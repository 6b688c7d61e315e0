"""Seeded, pure-DuckDB input generators for the benchmark workloads.

Every generator takes the seed as an argument and derives each value from
``hash(<row key>, seed)``, so the same seed gives byte-identical parquet and
another seed gives other values of the same size. Nothing here imports the
engine: the engine only ever sees the generated files.

Three input kinds:

* ``omop``   an OMOP CDM folder (one directory per table) for the
             pretraining workload;
* ``query``  the testdata layout ``bench.py`` reads (``<table>.parquet``): an
             sf0.01-shaped base rung, scaled QUERY_SCALE× by key shifting
             with ``tools/make_scaled_sf.py``;
* ``stream`` time-sliced parquet chunks with explicit mtimes (the file
             source's arrival order) for the stream-ingest workload.

Inputs are cached under ``<root>/<kind>-v<GEN_VERSION>-s<seed>``. A directory
is reused only when its completion marker and manifest are both present; any
other directory at that path is a half-written leftover and is rebuilt.
"""

from __future__ import annotations

import importlib.util
import json
import os
import shutil

import duckdb

#: Bump when any generator's output changes, so stale caches are not reused.
GEN_VERSION = 3

MARKER = "_COMPLETE"
MANIFEST = "manifest.json"

# --- sizes --------------------------------------------------------------------

OMOP_PERSONS = 300
QUERY_SCALE = 5  # replicas of the base rung (the base is sf0.01-shaped)


def _u(expr: str, seed: int, salt: int) -> str:
    """SQL for a uniform double in (0, 1] from a row key, seed and salt."""
    return f"((hash({expr}, {seed}, {salt}) % 1000000) + 1) / 1000000.0"


def _h(expr: str, seed: int, salt: int, mod: int) -> str:
    """SQL for a uniform integer in [0, mod) from a row key, seed and salt."""
    return f"CAST(hash({expr}, {seed}, {salt}) % {mod} AS BIGINT)"


def _q(key: str, seed: int, salt: int) -> str:
    """SQL window for a row's quantile in (0, 1] under a seeded shuffle: the
    multiset of values is the same for every seed, only their order moves,
    so sizes derived from it do not change with the seed."""
    return (f"(ROW_NUMBER() OVER (ORDER BY hash({key}, {seed}, {salt}), {key}) "
            f"/ COUNT(*) OVER ())")


def _copy(con, sql: str, path: str) -> None:
    con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")


def _connect():
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET preserve_insertion_order = true")
    return con


# --- OMOP ---------------------------------------------------------------------

#: visit_concept_id mix: inpatient, outpatient, ER, ER+inpatient
VISIT_MIX = "CASE WHEN r < 0.15 THEN 9201 WHEN r < 0.80 THEN 9202 WHEN r < 0.95 THEN 9203 ELSE 262 END"
#: discharge codes: home, skilled nursing, expired, none
DISCHARGE_MIX = "CASE WHEN d < 0.80 THEN 8536 WHEN d < 0.92 THEN 8863 WHEN d < 0.95 THEN 4216643 ELSE 0 END"

CONDITION_BASE, N_CONDITIONS = 40_000_000, 400
DRUG_BASE, N_DRUGS = 41_000_000, 300
PROCEDURE_BASE, N_PROCEDURES = 42_000_000, 200
INGREDIENT_BASE, N_INGREDIENTS = 43_000_000, 60
ICD_BASE = 44_000_000  # 5-char billing codes, one per condition concept
ICD3_BASE, N_ICD3 = 45_000_000, 40  # their 3-char parents


def generate_omop(out: str, seed: int) -> dict:
    """Write the OMOP folder; return row counts per table."""
    con = _connect()
    n = OMOP_PERSONS

    def table(name: str, sql: str) -> None:
        os.makedirs(os.path.join(out, name))
        _copy(con, sql, os.path.join(out, name, "part-0.parquet"))

    con.execute(
        f"""
        CREATE TABLE person AS
        SELECT i + 1 AS person_id,
               CAST(1940 + {_h('i', seed, 1, 65)} AS INT) AS year_of_birth,
               CAST(1 + {_h('i', seed, 2, 12)} AS INT) AS month_of_birth,
               CAST(CASE WHEN {_h('i', seed, 3, 2)} = 0 THEN 8507 ELSE 8532 END AS INT)
                 AS gender_concept_id,
               CAST([8527, 8516, 8515, 8657, 0][1 + {_h('i', seed, 4, 5)}] AS INT)
                 AS race_concept_id,
               CAST(0 AS INT) AS ethnicity_concept_id,
               -- heavy-tailed visits per person (Pareto-like, capped)
               CAST(LEAST(80, 1 + FLOOR(2.5 / POW({_q('i', seed, 5)}, 0.7))) AS INT) AS n_visits
        FROM range({n}) t(i)
        """
    )
    table(
        "person",
        "SELECT person_id, year_of_birth, month_of_birth, CAST(1 AS INT) AS day_of_birth, "
        "make_timestamp(year_of_birth, month_of_birth, 1, 0, 0, 0) AS birth_datetime, "
        "gender_concept_id, race_concept_id, ethnicity_concept_id FROM person ORDER BY person_id",
    )
    con.execute(
        f"""
        CREATE TABLE visit AS
        WITH v AS (
          SELECT person_id, UNNEST(range(n_visits)) AS j FROM person
        ), r AS (
          SELECT person_id, j, person_id * 1000 + j AS visit_occurrence_id,
                 {_u('person_id * 1000 + j', seed, 6)} AS r,
                 {_u('person_id * 1000 + j', seed, 7)} AS d,
                 -- visits walk forward from a per-person start in 2008-2014
                 TIMESTAMP '2008-01-01'
                   + INTERVAL (CAST({_h('person_id', seed, 8, 2200)} AS INT)) DAY
                   + INTERVAL (CAST(j * 45 + {_h('person_id * 1000 + j', seed, 9, 40)} AS INT)) DAY
                   + INTERVAL (CAST({_h('person_id * 1000 + j', seed, 10, 86400)} AS INT)) SECOND
                   AS start_ts
          FROM v
        )
        SELECT person_id, visit_occurrence_id,
               CAST({VISIT_MIX} AS INT) AS visit_concept_id,
               start_ts,
               CASE WHEN r < 0.15 OR r >= 0.95
                    THEN start_ts + INTERVAL (CAST(1 + {_h('visit_occurrence_id', seed, 11, 9)} AS INT)) DAY
                    ELSE start_ts + INTERVAL 3 HOUR END AS end_ts,
               CAST(CASE WHEN r < 0.15 OR r >= 0.95 THEN {DISCHARGE_MIX} ELSE 0 END AS INT)
                 AS discharged_to_concept_id
        FROM r
        """
    )
    table(
        "visit_occurrence",
        "SELECT visit_occurrence_id, person_id, visit_concept_id, "
        "CAST(start_ts AS DATE) AS visit_start_date, start_ts AS visit_start_datetime, "
        "CAST(end_ts AS DATE) AS visit_end_date, end_ts AS visit_end_datetime, "
        "CAST(44818518 AS INT) AS visit_type_concept_id, discharged_to_concept_id "
        "FROM visit ORDER BY visit_occurrence_id",
    )
    def domain(name: str, key: str, concept: str, date: str, datetime: str,
               base: int, n_concepts: int, per_visit: float, salt: int, extra: str = "") -> None:
        # heavy-tailed events per visit; ~3% of events point at a visit id
        # that does not exist (the engine's visit-id hygiene nulls them)
        table(
            name,
            f"""
            WITH q AS (
              SELECT *, {_q('visit_occurrence_id', seed, salt)} AS q FROM visit
            ), e AS (
              SELECT person_id, visit_occurrence_id, start_ts, end_ts,
                     UNNEST(range(CAST(LEAST(40, FLOOR({per_visit} / POW(q, 0.5))) AS INT))) AS k
              FROM q
            )
            SELECT visit_occurrence_id * 100 + k AS {key},
                   person_id,
                   CAST({base} + FLOOR({n_concepts} * POW(
                     {_u('visit_occurrence_id * 100 + k', seed, salt + 1)}, 2)) AS INT) AS {concept},
                   CAST(ts AS DATE) AS {date}, ts AS {datetime},
                   CASE WHEN {_h('visit_occurrence_id * 100 + k', seed, salt + 2, 100)} < 3
                        THEN visit_occurrence_id + 500 ELSE visit_occurrence_id END
                     AS visit_occurrence_id
                   {extra}
            FROM (
              SELECT *, start_ts + INTERVAL (CAST(
                       {_h('visit_occurrence_id * 100 + k', seed, salt + 3, 1000)}
                       * (epoch(end_ts) - epoch(start_ts)) / 1000 AS BIGINT)) SECOND AS ts
              FROM e
            )
            ORDER BY {key}
            """,
        )

    # the ICD billing code each condition was recorded as (diagnosis roll-up input)
    domain("condition_occurrence", "condition_occurrence_id", "condition_concept_id",
           "condition_start_date", "condition_start_datetime",
           CONDITION_BASE, N_CONDITIONS, 1.6, 20,
           ", CAST(32020 AS INT) AS condition_type_concept_id, "
           f"CAST(condition_concept_id - {CONDITION_BASE} + {ICD_BASE} AS INT) "
           "AS condition_source_concept_id")
    domain("drug_exposure", "drug_exposure_id", "drug_concept_id",
           "drug_exposure_start_date", "drug_exposure_start_datetime",
           DRUG_BASE, N_DRUGS, 1.3, 30,
           ", CAST(38000177 AS INT) AS drug_type_concept_id")
    domain("procedure_occurrence", "procedure_occurrence_id", "procedure_concept_id",
           "procedure_date", "procedure_datetime",
           PROCEDURE_BASE, N_PROCEDURES, 0.9, 40,
           ", CAST(38000275 AS INT) AS procedure_type_concept_id")

    # vocabulary: every concept the facts use, drug ingredients with
    # ancestry, ICD billing codes that map to the condition concepts and
    # roll up ('Is a') to 3-char ICD parents
    table(
        "concept",
        f"""
        SELECT CAST(concept_id AS INT) AS concept_id, 'c' || concept_id AS concept_name,
               domain_id, vocabulary_id, concept_class_id, standard_concept,
               CAST(concept_id AS VARCHAR) AS concept_code
        FROM (
          SELECT {CONDITION_BASE} + i AS concept_id, 'Condition' AS domain_id,
                 'SNOMED' AS vocabulary_id, 'Clinical Finding' AS concept_class_id,
                 'S' AS standard_concept FROM range({N_CONDITIONS}) t(i)
          UNION ALL
          SELECT {DRUG_BASE} + i, 'Drug', 'RxNorm', 'Clinical Drug', 'S' FROM range({N_DRUGS}) t(i)
          UNION ALL
          SELECT {PROCEDURE_BASE} + i, 'Procedure', 'CPT4', 'CPT4', 'S' FROM range({N_PROCEDURES}) t(i)
          UNION ALL
          SELECT {INGREDIENT_BASE} + i, 'Drug', 'RxNorm', 'Ingredient', 'S' FROM range({N_INGREDIENTS}) t(i)
          UNION ALL
          SELECT {ICD_BASE} + i, 'Condition', 'ICD10CM', '5-char billing code', NULL
          FROM range({N_CONDITIONS}) t(i)
          UNION ALL
          SELECT {ICD3_BASE} + i, 'Condition', 'ICD10CM', '3-char nonbill code', NULL
          FROM range({N_ICD3}) t(i)
          UNION ALL
          SELECT * FROM (VALUES (9201, 'Visit', 'Visit', 'Visit', 'S'),
                                (9202, 'Visit', 'Visit', 'Visit', 'S'),
                                (9203, 'Visit', 'Visit', 'Visit', 'S'),
                                (262, 'Visit', 'Visit', 'Visit', 'S'),
                                (8536, 'Visit', 'CMS Place of Service', 'Place of Service', 'S'),
                                (8863, 'Visit', 'CMS Place of Service', 'Place of Service', 'S'),
                                (4216643, 'Observation', 'SNOMED', 'Clinical Finding', 'S'))
        )
        ORDER BY concept_id
        """,
    )
    table(
        "concept_ancestor",
        f"""
        SELECT CAST(a AS INT) AS ancestor_concept_id, CAST(d AS INT) AS descendant_concept_id,
               CAST(lvl AS INT) AS min_levels_of_separation, CAST(lvl AS INT) AS max_levels_of_separation
        FROM (
          SELECT {DRUG_BASE} + i AS a, {DRUG_BASE} + i AS d, 0 AS lvl FROM range({N_DRUGS}) t(i)
          UNION ALL
          SELECT {INGREDIENT_BASE} + {_h('i', seed, 50, N_INGREDIENTS)}, {DRUG_BASE} + i, 1
          FROM range({N_DRUGS}) t(i)
          UNION ALL
          SELECT {CONDITION_BASE} + (i // 10) * 10, {CONDITION_BASE} + i, 1
          FROM range({N_CONDITIONS}) t(i) WHERE i % 10 <> 0
        )
        ORDER BY a, d
        """,
    )
    table(
        "concept_relationship",
        f"""
        SELECT CAST(c1 AS INT) AS concept_id_1, CAST(c2 AS INT) AS concept_id_2, rel AS relationship_id
        FROM (
          SELECT {ICD_BASE} + i AS c1, {CONDITION_BASE} + i AS c2, 'Maps to' AS rel
          FROM range({N_CONDITIONS}) t(i)
          UNION ALL
          SELECT {CONDITION_BASE} + i, {ICD_BASE} + i, 'Mapped from' FROM range({N_CONDITIONS}) t(i)
          UNION ALL
          SELECT {ICD_BASE} + i, {ICD3_BASE} + {_h('i', seed, 51, N_ICD3)}, 'Is a'
          FROM range({N_CONDITIONS}) t(i)
          UNION ALL
          SELECT {CONDITION_BASE} + (i // 10) * 10, {CONDITION_BASE} + i, 'Subsumes'
          FROM range({N_CONDITIONS}) t(i) WHERE i % 10 <> 0
        )
        ORDER BY c1, c2, rel
        """,
    )
    counts = {
        t: con.execute(
            f"SELECT COUNT(*) FROM read_parquet('{os.path.join(out, t, '*.parquet')}')"
        ).fetchone()[0]
        for t in sorted(os.listdir(out))
    }
    con.close()
    return counts


OMOP_DOMAINS = ["condition_occurrence", "drug_exposure", "procedure_occurrence"]


# --- query rung ---------------------------------------------------------------

WORDS = [
    "a", "the", "row", "scan", "join", "agg", "hash", "sort", "window", "table",
    "value", "part", "key", "line", "order", "query", "batch", "stream", "spark",
    "data", "column", "group", "filter", "merge", "vector", "fast", "slow",
    "small", "big", "customer",
]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def generate_query_base(out: str, seed: int) -> dict:
    """Write the sf0.01-shaped base rung in the testdata layout."""
    con = _connect()
    words = "[" + ", ".join(f"'{w}'" for w in WORDS) + "]"
    langs = "[" + ", ".join(f"'{w}'" for w in LANGS) + "]"
    etypes = "[" + ", ".join(f"'{w}'" for w in EVENT_TYPES) + "]"
    regions = "['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST']"
    segs = "['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY']"
    prios = "['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW']"
    tables = {
        "region": f"SELECT CAST(i AS INT) AS r_regionkey, {regions}[i + 1] AS r_name FROM range(5) t(i)",
        "nation": "SELECT CAST(i AS INT) AS n_nationkey, 'NATION_' || i AS n_name, "
                  "CAST(i % 5 AS INT) AS n_regionkey FROM range(25) t(i)",
        "customer": f"SELECT i AS c_custkey, 'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') AS c_name, "
                    f"CAST({_h('i', seed, 1, 25)} AS INT) AS c_nationkey, "
                    f"ROUND({_h('i', seed, 2, 1000000)} / 100.0 - 999.99, 2) AS c_acctbal, "
                    f"{segs}[1 + {_h('i', seed, 3, 5)}] AS c_mktsegment FROM range(1500) t(i)",
        "supplier": f"SELECT i AS s_suppkey, 'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') AS s_name, "
                    f"CAST({_h('i', seed, 4, 25)} AS INT) AS s_nationkey, "
                    f"ROUND({_h('i', seed, 5, 1000000)} / 100.0, 2) AS s_acctbal FROM range(100) t(i)",
        "part": f"SELECT i AS p_partkey, {words}[1 + {_h('i', seed, 6, 30)}] || ' ' || "
                f"{words}[1 + {_h('i', seed, 7, 30)}] AS p_name, "
                f"'Brand#' || (1 + {_h('i', seed, 8, 25)}) AS p_brand, "
                f"['ECONOMY', 'SMALL', 'LARGE', 'PROMO', 'STANDARD'][1 + {_h('i', seed, 9, 5)}] AS p_type, "
                f"CAST(1 + {_h('i', seed, 10, 50)} AS INT) AS p_size, "
                f"ROUND(900 + (i % 1000) / 10.0, 2) AS p_retailprice FROM range(2000) t(i)",
        "orders": f"SELECT i AS o_orderkey, {_h('i', seed, 11, 1500)} AS o_custkey, "
                  f"['F', 'O', 'P'][1 + {_h('i', seed, 12, 3)}] AS o_orderstatus, "
                  f"ROUND({_h('i', seed, 13, 50000000)} / 100.0 + 1000, 2) AS o_totalprice, "
                  f"TIMESTAMP '1995-01-01' + INTERVAL (CAST({_h('i', seed, 14, 2404)} AS INT)) DAY AS o_orderdate, "
                  f"{prios}[1 + {_h('i', seed, 15, 5)}] AS o_orderpriority FROM range(15000) t(i)",
        "lineitem": f"""
            SELECT o AS l_orderkey, {_h('o * 8 + ln', seed, 16, 2000)} AS l_partkey,
                   {_h('o * 8 + ln', seed, 17, 100)} AS l_suppkey, CAST(ln + 1 AS INT) AS l_linenumber,
                   CAST(1 + {_h('o * 8 + ln', seed, 18, 50)} AS DOUBLE) AS l_quantity,
                   ROUND({_h('o * 8 + ln', seed, 19, 10000000)} / 100.0 + 900, 2) AS l_extendedprice,
                   {_h('o * 8 + ln', seed, 20, 11)} / 100.0 AS l_discount,
                   {_h('o * 8 + ln', seed, 21, 9)} / 100.0 AS l_tax,
                   ['A', 'N', 'R'][1 + {_h('o * 8 + ln', seed, 22, 3)}] AS l_returnflag,
                   ['F', 'O'][1 + {_h('o * 8 + ln', seed, 23, 2)}] AS l_linestatus,
                   TIMESTAMP '1995-01-01' + INTERVAL (CAST({_h('o * 8 + ln', seed, 24, 2500)} AS INT)) DAY
                     AS l_shipdate
            FROM (SELECT i AS o, UNNEST(range(1 + CAST({_h('i', seed, 25, 8)} AS INT))) AS ln
                  FROM range(15000) t(i))
            ORDER BY o, ln LIMIT 60000""",
        "events": f"""
            SELECT i AS event_id,
                   TIMESTAMP '2024-01-01' + INTERVAL (CAST(i * 259 + {_h('i', seed, 26, 259)} AS BIGINT)) SECOND
                     AS ts,
                   {_h('i', seed, 27, 150)} AS user_id,
                   {etypes}[1 + {_h('i', seed, 28, 5)}] AS event_type,
                   ROUND({_h('i', seed, 29, 2000)} / 100.0, 2) AS value,
                   '{{"k": ' || {_h('i', seed, 30, 100)} || '}}' AS props
            FROM range(10000) t(i)""",
        "documents": f"""
            WITH d AS (
              SELECT i AS doc_id,
                     -- ~10% of documents are near-copies of an earlier one
                     CASE WHEN {_h('i', seed, 31, 10)} = 0 AND i > 0
                          THEN {_h('i', seed, 32, 1000000)} % i ELSE i END AS body,
                     {langs}[1 + {_h('i', seed, 33, 7)}] AS lang,
                     'src' || {_h('i', seed, 34, 20)} AS source
              FROM range(500) t(i)
            ), t AS (
              SELECT doc_id, lang, source,
                     array_to_string(list_transform(range(20 + CAST({_h('body', seed, 35, 40)} AS INT)),
                       x -> {words}[1 + CAST(hash(body, x, {seed}) % 30 AS INT)]), ' ')
                     || CASE WHEN body <> doc_id THEN ' ' || {words}[1 + {_h('doc_id', seed, 36, 30)}]
                        ELSE '' END AS text
              FROM d
            )
            SELECT doc_id, text, lang, source, CAST(LENGTH(text) AS BIGINT) AS n_chars FROM t""",
        "embeddings": f"""
            SELECT i AS vec_id,
                   CAST(list_transform(range(64), x -> (((hash(i, x, {seed}) % 20001) / 10000.0) - 1.0) / 4.0)
                     AS FLOAT[]) AS embedding,
                   CAST({_h('i', seed, 37, 10)} AS INT) AS label
            FROM range(500) t(i)""",
    }
    counts = {}
    for name, sql in tables.items():
        path = os.path.join(out, f"{name}.parquet")
        _copy(con, sql, path)
        counts[name] = con.execute(f"SELECT COUNT(*) FROM '{path}'").fetchone()[0]
    con.close()
    return counts


def _make_scaled_sf():
    """Load ``tools/make_scaled_sf.py`` from the repository checkout."""
    here = os.path.dirname(os.path.abspath(__file__))
    path = os.path.join(os.path.dirname(here), "tools", "make_scaled_sf.py")
    spec = importlib.util.spec_from_file_location("make_scaled_sf", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def generate_query(out: str, seed: int) -> dict:
    """Base rung under ``out/base``, the QUERY_SCALE× rung under ``out/rung``."""
    base, rung = os.path.join(out, "base"), os.path.join(out, "rung")
    os.makedirs(base)
    os.makedirs(rung)
    generate_query_base(base, seed)
    scaler = _make_scaled_sf()
    con = _connect()
    counts = {}
    for table in scaler.SHIFTED:
        counts[table] = scaler.scale_table(con, base, rung, table, QUERY_SCALE)
    for table in scaler.COPIED:
        shutil.copy(os.path.join(base, f"{table}.parquet"), os.path.join(rung, f"{table}.parquet"))
        counts[table] = con.execute(
            f"SELECT COUNT(*) FROM '{os.path.join(rung, table)}.parquet'"
        ).fetchone()[0]
    con.close()
    return counts


# --- stream chunks ------------------------------------------------------------

STREAM_CHUNKS = 3
STREAM_UIDS = 100
EVENTS_PER_CHUNK = 3000
PROBES_PER_CHUNK = 1000
TICKS_PER_CHUNK = 2000
CHUNK_HOURS = 6
#: events spill up to this far into the neighbouring chunks' time slices
OVERLAP_MINUTES = 45
#: share of each chunk's events repeated as exact duplicates
DUPLICATE_SHARE = 0.05
STREAM_BASE_TS = "TIMESTAMP '2020-03-01 00:00:00'"
#: file mtimes: the file source reads files in modification-time order
MTIME_BASE = 1_600_000_000


def generate_stream(out: str, seed: int) -> dict:
    """Write three chunked sources, chunk ``c`` owning the time slice
    ``[c, c + 1) * CHUNK_HOURS`` hours after STREAM_BASE_TS:

    * ``events/`` (uid, ts, v): each event shifted up to OVERLAP_MINUTES
      either way out of its slice (bounded disorder), DUPLICATE_SHARE of
      them repeated exactly; a last ``zz_sentinel`` file holds one row
      (uid -1) 40 days later, so the watermark passes every real window;
    * ``probes/`` (uid, ts, tag) and ``ticks/`` (uid, ts, v): the as-of
      join's left and right sides, both inside their slice (disordered only
      within a chunk), so every tick a probe can match arrives no later
      than the probe. A tick's value is a function of (uid, ts).

    Every file's mtime is set so the file source reads chunk after chunk.
    """
    con = _connect()
    counts = {"events": 0, "probes": 0, "ticks": 0}
    dups = int(EVENTS_PER_CHUNK * DUPLICATE_SHARE)
    slice_s = CHUNK_HOURS * 3600
    for d in counts:
        os.makedirs(os.path.join(out, d))

    def write(d: str, name: str, sql: str, mtime: int) -> None:
        path = os.path.join(out, d, f"{name}.parquet")
        _copy(con, sql, path)
        counts[d] += con.execute(f"SELECT COUNT(*) FROM '{path}'").fetchone()[0]
        os.utime(path, (MTIME_BASE + mtime, MTIME_BASE + mtime))

    def in_slice(key: str, c: int, salt: int) -> str:
        return (f"{STREAM_BASE_TS} + INTERVAL ({c * slice_s} + "
                f"{_h(key, seed, salt, slice_s)}) SECOND")

    for c in range(STREAM_CHUNKS):
        lo = c * EVENTS_PER_CHUNK
        write("events", f"chunk_{c:03d}", f"""
            WITH base AS (
              SELECT i, CAST({_h('i', seed, 60, STREAM_UIDS)} AS INT) AS uid,
                     {in_slice('i', c, 61)}
                       + INTERVAL ({_h('i', seed, 62, 2 * OVERLAP_MINUTES * 60)}
                                   - {OVERLAP_MINUTES * 60}) SECOND AS ts,
                     CAST({_h('i', seed, 63, 100000)} AS DOUBLE) / 100.0 AS v,
                     ROW_NUMBER() OVER (ORDER BY hash(i, {seed}, 64), i) AS dup_rank
              FROM range({lo}, {lo + EVENTS_PER_CHUNK}) t(i)
            )
            SELECT uid, ts, v FROM (
              SELECT i, uid, ts, v FROM base
              UNION ALL
              SELECT i, uid, ts, v FROM base WHERE dup_rank <= {dups}
            ) ORDER BY hash(i, {seed}, 65), i""", c)
        lo = c * PROBES_PER_CHUNK
        write("probes", f"chunk_{c:03d}", f"""
            SELECT CAST({_h('i', seed, 70, STREAM_UIDS)} AS INT) AS uid,
                   {in_slice('i', c, 71)} AS ts, i AS tag
            FROM range({lo}, {lo + PROBES_PER_CHUNK}) t(i)
            ORDER BY hash(i, {seed}, 72), i""", c)
        lo = c * TICKS_PER_CHUNK
        write("ticks", f"chunk_{c:03d}", f"""
            SELECT uid, ts,
                   CAST(hash(uid, epoch(ts), {seed}, 81) % 100000 AS DOUBLE) / 100.0 AS v
            FROM (SELECT i, CAST({_h('i', seed, 80, STREAM_UIDS)} AS INT) AS uid,
                         {in_slice('i', c, 82)} AS ts
                  FROM range({lo}, {lo + TICKS_PER_CHUNK}) t(i))
            ORDER BY hash(i, {seed}, 83), i""", c)
    write("events", "zz_sentinel",
          f"SELECT CAST(-1 AS INT) AS uid, {STREAM_BASE_TS} + INTERVAL 40 DAY AS ts, "
          f"CAST(0.0 AS DOUBLE) AS v", STREAM_CHUNKS + 10)
    con.close()
    return counts


# --- cache --------------------------------------------------------------------

GENERATORS = {"omop": generate_omop, "query": generate_query, "stream": generate_stream}


def is_complete(path: str) -> bool:
    """A cached input is valid only with both its marker and manifest."""
    return os.path.isfile(os.path.join(path, MARKER)) and os.path.isfile(
        os.path.join(path, MANIFEST)
    )


def cached_input(root: str, kind: str, seed: int) -> tuple[str, dict]:
    """Return (directory, manifest) for ``kind`` at ``seed``, generating it
    into a scratch directory and renaming it into place when absent."""
    final = os.path.join(root, f"{kind}-v{GEN_VERSION}-s{seed}")
    if is_complete(final):
        with open(os.path.join(final, MANIFEST)) as f:
            return final, json.load(f)
    shutil.rmtree(final, ignore_errors=True)
    tmp = f"{final}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    counts = GENERATORS[kind](tmp, seed)
    manifest = {"kind": kind, "seed": seed, "gen_version": GEN_VERSION, "rows": counts}
    with open(os.path.join(tmp, MANIFEST), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    open(os.path.join(tmp, MARKER), "w").close()
    os.rename(tmp, final)
    return final, manifest
