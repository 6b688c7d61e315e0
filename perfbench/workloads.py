"""The benchmark workloads: one closed loop, one client, sequential passes.

A workload owns its generated input, runs one pass at a time and checks
every pass's output. ``run_pass`` returns the wall time of each operation
in the pass; ``check_pass`` returns how many of those operations produced a
wrong result (or raised).

Correctness, per workload:

* ``omop_pretrain``: the md5-60 COUNT/BIT_XOR/SUM fold of the written
  ``patient_sequence`` equals the fold pinned for the seed in ``pins.json``,
  and the structure holds independently of the engine: one sequence per
  surviving person, and the surviving persons are exactly those DuckDB
  finds with at least one event on an existing visit.
* ``query_suite``: each headline query's xxhash64/BIT_XOR fold equals the
  pinned fold, and its row count equals the count of the query's DuckDB
  oracle on the same rung.
* ``stream_ingest``: each operator's streamed output has the same md5-60
  fold as the same operator on the batch read of the same files, no row
  was dropped as late, and DuckDB, straight from the generated files,
  finds the same number of sessions, distinct events, probes and matched
  probes, and the same matched values.

For a seed with no pin, the fold is compared with the run's first pass.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

import duckdb

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
PINS = os.path.join(HERE, "pins.json")


def load_pins(workload: str, seed: int) -> dict | None:
    with open(PINS) as f:
        return json.load(f).get(workload, {}).get(str(seed))


def fold_df(df):
    """One row (x, n): BIT_XOR of an xxhash64 over every column, and the row
    count; collecting it forces every value of ``df``."""
    from pyspark.sql import functions as F

    cols = ", ".join(f"`{c.replace('`', '``')}`" for c in df.columns)
    return df.selectExpr(f"xxhash64({cols}) AS __h").agg(
        F.expr("bit_xor(__h)").alias("x"), F.count(F.lit(1)).alias("n")
    )


class Workload:
    name = ""
    kind = ""
    #: the keys of ``fold()`` that ``pins.json`` records (None: all of them)
    pinned_keys: tuple | None = None

    def __init__(self, spark, inp: str, manifest: dict, work: str, seed: int) -> None:
        self.spark, self.inp, self.manifest, self.work, self.seed = spark, inp, manifest, work, seed
        self.pinned = load_pins(self.name, seed)
        self.first_fold = None

    def warmup(self) -> None:
        self.spark.range(2_000_000).selectExpr("sum(id)").collect()

    def run_pass(self, tracer) -> list[tuple[str, float]]:
        raise NotImplementedError

    def check_pass(self) -> int:
        raise NotImplementedError

    def fold(self) -> dict:
        """The last pass's result fold (what ``pins.json`` records)."""
        raise NotImplementedError

    def _compare(self, got: dict) -> dict[str, bool]:
        """Per-key equality against the pinned fold, else the first pass."""
        if self.first_fold is None:
            self.first_fold = got
        ref = self.pinned if self.pinned is not None else self.first_fold
        return {k: got.get(k) == ref.get(k) for k in set(ref) | set(got)}


# --- OMOP pretraining ---------------------------------------------------------


class OmopPretrain(Workload):
    """``apps.generate_training_data.main`` with cehr_bert/mix ATT,
    artificial visits on, condition + drug + procedure domains, drug and
    diagnosis roll-ups, the durable ``checkpoint_barrier`` and the parquet
    sink."""

    name = "omop_pretrain"
    kind = "omop"
    pinned_keys = ("n_rows", "xor_h", "sum_h")

    def warmup(self) -> None:
        super().warmup()
        from cehrbert_data_spark.sources.readers import read_parquet

        read_parquet(self.spark, os.path.join(self.inp, "person")).count()

    def run_pass(self, tracer) -> list[tuple[str, float]]:
        from cehrbert_data_spark.apps import generate_training_data as app

        self.out = os.path.join(self.work, "pretrain")
        shutil.rmtree(self.out, ignore_errors=True)
        t0 = time.time()
        with tracer.span("apps.generate_training_data"):
            app.main(
                input_folder=self.inp,
                output_folder=self.out,
                domain_table_list=list(gen.OMOP_DOMAINS),
                att_type="cehr_bert",
                inpatient_att_type="mix",
                with_drug_rollup=True,
                with_diagnosis_rollup=True,
                should_construct_artificial_visits=True,
                spark=self.spark,
            )
        return [("generate_training_data", time.time() - t0)]

    def fold(self) -> dict:
        from pyspark.sql import functions as F

        from cehrbert_data_spark.queries.checksums import _fold

        df = self.spark.read.parquet(os.path.join(self.out, "patient_sequence"))
        r = _fold(df, [F.col(c) for c in sorted(df.columns)]).collect()[0]
        persons = df.agg(
            F.countDistinct("person_id").alias("n"), F.sum("person_id").alias("s")
        ).collect()[0]
        return {
            "n_rows": int(r["n_rows"]),
            "xor_h": int(r["xor_h"]),
            "sum_h": str(r["sum_h"]),
            "persons": int(persons["n"]),
            "person_sum": int(persons["s"]),
        }

    def expected_persons(self) -> tuple[int, int]:
        """Persons with at least one domain event on an existing visit,
        computed by DuckDB straight from the generated files."""
        if not hasattr(self, "_expected"):
            con = duckdb.connect()

            def t(name):
                return f"read_parquet('{os.path.join(self.inp, name, '*.parquet')}')"

            union = " UNION ALL ".join(
                f"SELECT person_id, visit_occurrence_id FROM {t(d)}" for d in gen.OMOP_DOMAINS
            )
            self._expected = con.execute(
                f"""
                SELECT COUNT(*), SUM(person_id) FROM (
                  SELECT DISTINCT e.person_id FROM ({union}) e
                  JOIN {t('visit_occurrence')} v USING (visit_occurrence_id)
                  JOIN {t('person')} p ON p.person_id = v.person_id
                )
                """
            ).fetchone()
            con.close()
        return self._expected

    def check_pass(self) -> int:
        got = self.fold()
        same = self._compare({k: got[k] for k in self.pinned_keys})
        n, s = self.expected_persons()
        structure = got["n_rows"] == got["persons"] == n and got["person_sum"] == s
        return 0 if all(same.values()) and structure else 1


# --- headline query suite -----------------------------------------------------


class QuerySuite(Workload):
    """The 14 ``bench.py`` HEADLINE queries, each forced by one xxhash64
    over every output column reduced with BIT_XOR, on the QUERY_SCALE× rung."""

    name = "query_suite"
    kind = "query"

    def __init__(self, *a, **k) -> None:
        super().__init__(*a, **k)
        from bench import HEADLINE
        from cehrbert_data_spark.queries import all_queries

        self.names = list(HEADLINE)
        registry = all_queries()
        self.fns = {n: registry[n] for n in self.names}
        self.rung = os.path.join(self.inp, "rung")
        self.folds: dict[str, list] = {}

    def run_pass(self, tracer) -> list[tuple[str, float]]:
        ops = []
        self.folds = {}
        for name in self.names:
            t0 = time.time()
            try:
                with tracer.span(f"queries.{name}"):
                    df = self.fns[name](self.spark, self.rung)
                with tracer.span(f"queries.{name}.exec"):
                    r = fold_df(df).collect()[0]
                self.folds[name] = [int(r["x"]) if r["x"] is not None else None, int(r["n"])]
            except Exception as exc:  # noqa: BLE001 - a failed query counts as failed
                print(f"perfbench: {name} failed: {exc}"[:400], file=sys.stderr)
                self.folds[name] = None
            ops.append((name, time.time() - t0))
        return ops

    def fold(self) -> dict:
        return dict(self.folds)

    def oracle_counts(self) -> dict[str, int]:
        if not hasattr(self, "_oracle"):
            from cehrbert_data_spark.queries import all_oracles

            oracles = all_oracles()
            con = duckdb.connect()
            con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")  # Spark is idle
            for f in sorted(os.listdir(self.rung)):
                if f.endswith(".parquet"):
                    con.execute(
                        f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(self.rung, f)}'"
                    )
            self._oracle = {
                n: con.execute(f"SELECT COUNT(*) FROM ({oracles[n]})").fetchone()[0]
                for n in self.names
            }
            con.close()
        return self._oracle

    def check_pass(self) -> int:
        counts = self.oracle_counts()
        same = self._compare(self.folds)
        bad = 0
        for name in self.names:
            f = self.folds.get(name)
            if f is None or not same.get(name, False) or f[1] != counts[name]:
                bad += 1
        return bad


# --- stream ingest ------------------------------------------------------------

#: watermark delay of every stateful operator: longer than any disorder the
#: generator puts between chunks, so no row is ever late
STREAM_WATERMARK = "4 hours"
SESSION_GAP = "30 minutes"
ASOF_LOOKBACK_S = 86400.0
EVENTS_SCHEMA = "uid int, ts timestamp, v double"
PROBES_SCHEMA = "uid int, ts timestamp, tag bigint"


def _md5_fold(df) -> dict:
    from pyspark.sql import functions as F

    from cehrbert_data_spark.queries.checksums import _fold

    r = _fold(df, [F.col(c) for c in sorted(df.columns)]).collect()[0]
    return {"n_rows": int(r["n_rows"]), "xor_h": int(r["xor_h"] or 0), "sum_h": str(r["sum_h"])}


class StreamIngest(Workload):
    """Seeded time-sliced parquet chunks drained, one operator after the
    other, through ``streaming.session_window_stream``, ``streaming_dedup``
    and ``asof_join_stream`` (its ``applyInPandasWithState`` path): a file
    source read one chunk per micro-batch, an ``availableNow`` trigger and a
    parquet sink."""

    name = "stream_ingest"
    kind = "stream"
    OPS = ("session_window", "streaming_dedup", "asof_join")

    def __init__(self, *a, **k) -> None:
        super().__init__(*a, **k)
        #: op -> the query progress of each micro-batch of the last pass
        self.progress: dict[str, list[dict]] = {}
        #: streaming query run id (its Spark job group) -> op
        self.run_ids: dict[str, str] = {}

    def warmup(self) -> None:
        super().warmup()
        self._read("events", EVENTS_SCHEMA, stream=False).count()

    def _read(self, d: str, schema: str, stream: bool = True):
        path = os.path.join(self.inp, d)
        if not stream:
            return self.spark.read.schema(schema).parquet(path)
        return self.spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(path)

    def build(self, op: str, stream: bool = True):
        """The operator's output over the stream (or the batch read)."""
        from pyspark.sql import functions as F

        from cehrbert_data_spark.streaming import (
            asof_join_stream,
            session_window_stream,
            streaming_dedup,
        )

        if op == "asof_join":
            return asof_join_stream(
                self._read("probes", PROBES_SCHEMA, stream), self._read("ticks", EVENTS_SCHEMA, stream),
                ["uid"], "ts", "v", lookback_s=ASOF_LOOKBACK_S, watermark=STREAM_WATERMARK,
                state_timeout_ms=None)
        events = self._read("events", EVENTS_SCHEMA, stream)
        if not stream:
            events = events.where(F.col("uid") >= 0)  # the sentinel only closes windows
        if op == "session_window":
            return session_window_stream(events, ["uid"], "ts", gap=SESSION_GAP,
                                         watermark=STREAM_WATERMARK)
        return streaming_dedup(events, ["uid", "ts", "v"], "ts", watermark=STREAM_WATERMARK)

    def sink(self, op: str) -> str:
        return os.path.join(self.work, "stream", op)

    def run_pass(self, tracer) -> list[tuple[str, float]]:
        ops = []
        self.progress, self.run_ids = {}, {}
        for op in self.OPS:
            sink, ckpt = self.sink(op), os.path.join(self.work, "stream", f"{op}.ckpt")
            for d in (sink, ckpt):
                shutil.rmtree(d, ignore_errors=True)
            t0 = time.time()
            with tracer.span(f"streaming.{op}"):
                q = (
                    self.build(op).writeStream.outputMode("append").format("parquet")
                    .option("path", sink).option("checkpointLocation", ckpt)
                    .trigger(availableNow=True).start()
                )
                self.run_ids[str(q.runId)] = op
                q.awaitTermination()
            self.progress[op] = [json.loads(p.json) for p in q.recentProgress]
            ops.append((op, time.time() - t0))
        return ops

    def fold(self) -> dict:
        from pyspark.sql import functions as F

        out = {}
        for op in self.OPS:
            df = self.spark.read.parquet(self.sink(op))
            if "uid" in df.columns:
                df = df.where(F.col("uid") >= 0)
            out[op] = _md5_fold(df)
        return out

    def expected(self) -> dict[str, tuple]:
        """Per operator, what DuckDB finds straight from the generated files:
        sessions; distinct events; probes, matched probes and the matched
        values' sum in cents."""
        if not hasattr(self, "_expected"):
            con = duckdb.connect()

            def t(d):
                return f"read_parquet('{os.path.join(self.inp, d, '*.parquet')}')"

            sessions = con.execute(f"""
                SELECT COUNT(*) FILTER (WHERE prev IS NULL OR ts - prev > INTERVAL {SESSION_GAP})
                FROM (SELECT ts, LAG(ts) OVER (PARTITION BY uid ORDER BY ts) AS prev
                      FROM {t('events')} WHERE uid >= 0)""").fetchone()
            distinct = con.execute(
                f"SELECT COUNT(*) FROM (SELECT DISTINCT uid, ts, v FROM {t('events')} WHERE uid >= 0)"
            ).fetchone()
            asof = con.execute(f"""
                SELECT COUNT(*), COUNT(v), CAST(ROUND(SUM(v) * 100) AS BIGINT)
                FROM (SELECT CASE WHEN k.ts >= p.ts - INTERVAL {int(ASOF_LOOKBACK_S)} SECOND
                                  THEN k.v END AS v
                      FROM {t('probes')} p ASOF LEFT JOIN {t('ticks')} k
                        ON p.uid = k.uid AND p.ts >= k.ts)""").fetchone()
            con.close()
            self._expected = {"session_window": tuple(sessions), "streaming_dedup": tuple(distinct),
                              "asof_join": tuple(asof)}
        return self._expected

    def observed(self, op: str, fold: dict) -> tuple:
        """The figures ``expected`` gives, read from the operator's sink."""
        if op != "asof_join":
            return (fold["n_rows"],)
        r = self.spark.read.parquet(self.sink(op)).selectExpr(
            "count(asof_value)", "CAST(ROUND(SUM(asof_value) * 100) AS BIGINT)").collect()[0]
        return (fold["n_rows"], int(r[0]), int(r[1] or 0))

    def check_pass(self) -> int:
        expected, got = self.expected(), self.fold()
        bad = 0
        for op in self.OPS:
            late = sum(s.get("numRowsDroppedByWatermark", 0)
                       for p in self.progress.get(op, []) for s in p.get("stateOperators", []))
            parity = got[op] == _md5_fold(self.build(op, stream=False))
            observed = self.observed(op, got[op])
            if late or not parity or observed != expected[op]:
                print(f"perfbench: {op}: late={late} parity={parity} "
                      f"observed={observed} expected={expected[op]}", file=sys.stderr)
                bad += 1
        return bad


def progress_figures(progress: list[dict], wall: float) -> dict[str, float]:
    """Per-operator streaming figures from its queries' micro-batch progress."""
    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    states = [s for p in progress for s in p.get("stateOperators", [])]
    last = progress[-1].get("stateOperators", []) if progress else []
    return {
        "events_per_s": sum(p["numInputRows"] for p in data) / wall if wall else 0.0,
        "batch_p50_s": statistics.median(
            p["durationMs"].get("triggerExecution", 0) for p in data) / 1000.0 if data else 0.0,
        "add_batch_s": sum(p["durationMs"].get("addBatch", 0) for p in progress) / 1000.0,
        "commit_s": sum(s.get("commitTimeMs", 0) for s in states) / 1000.0,
        "state_rows": sum(s.get("numRowsTotal", 0) for s in last),
        "state_bytes": sum(s.get("memoryUsedBytes", 0) for s in last),
        "late_rows": sum(s.get("numRowsDroppedByWatermark", 0) for s in states),
    }


WORKLOADS = {w.name: w for w in (OmopPretrain, QuerySuite, StreamIngest)}
