"""Plan-level utilities: physical-plan text and exchange budgets."""
