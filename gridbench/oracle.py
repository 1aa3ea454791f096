"""DuckDB correctness checks, run after the timed region.

Every check evaluates the package's own oracle SQL (the DuckDB twins the
registered queries are tested against) over the generated input files and
compares the rows the timed operation collected. A mismatch counts as a
failed operation.
"""

from __future__ import annotations

import datetime as dt
import math

import duckdb

from insight_de_smart_grid_spark.operators import dashboard as dash
from insight_de_smart_grid_spark.operators import history as hist
from insight_de_smart_grid_spark.operators import rollup
from insight_de_smart_grid_spark.operators.dedup import minhash_lsh_oracle_sql
from insight_de_smart_grid_spark.operators.ivf_index import (
    ivf_index_ingest_oracle_sql,
)
from insight_de_smart_grid_spark.sources.tables import READINGS_SQL_VIEW

REL_TOL = 1e-9
# cosine similarities are rounded to 6 decimals by both engines
ABS_TOL = 2e-6


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=4")
    return con


def _files(paths) -> str:
    return "[" + ", ".join(f"'{p}'" for p in paths) + "]"


def view(con, name: str, paths) -> None:
    con.execute(f"CREATE OR REPLACE VIEW {name} AS "
                f"SELECT * FROM read_parquet({_files(paths)})")


def _norm(v):
    if type(v) is dt.datetime and v.tzinfo is not None:
        return v.replace(tzinfo=None)
    return v


def _row_key(row) -> tuple:
    # floats rounded so tolerance-equal rows sort alike; the None flag
    # keeps a NULL from being compared with a value of the column's type
    return tuple((v is None, round(v, 4) if type(v) is float else v)
                 for v in row)


def same_rows(got: "list[tuple]", want: "list[tuple]") -> "str | None":
    """None when the two row multisets match (floats within tolerance),
    else a one-line description of the first difference."""
    if len(got) != len(want):
        return f"{len(got)} rows, oracle {len(want)}"
    g = sorted((tuple(map(_norm, r)) for r in got), key=_row_key)
    w = sorted((tuple(map(_norm, r)) for r in want), key=_row_key)
    for a, b in zip(g, w):
        for x, y in zip(a, b):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or not math.isclose(
                        x, y, rel_tol=REL_TOL, abs_tol=ABS_TOL):
                    return f"row {a} vs oracle {b}"
            elif x != y:
                return f"row {a} vs oracle {b}"
    return None


def same_table(con, got_sql: str, want_sql: str, keys: str, exact: str,
               approx: str) -> "str | None":
    """Like ``same_rows``, for results too large to sort in Python, read
    by DuckDB itself: ``got_sql`` and ``want_sql`` both select the
    columns ``keys`` (unique in ``want``), ``exact`` and ``approx`` (one
    float column). None when they hold the same number of rows, no key
    twice, and every row equal to the row with its key (``approx`` within
    tolerance)."""
    same = " AND ".join(f"got.{c.strip()} = want.{c.strip()}"
                        for c in exact.split(",") if c.strip()) or "TRUE"
    n_got, n_keys, n_want, n_same = con.execute(f"""
WITH got AS ({got_sql}), want AS ({want_sql})
SELECT (SELECT count(*) FROM got),
       (SELECT count(*) FROM (SELECT DISTINCT {keys} FROM got)),
       (SELECT count(*) FROM want),
       (SELECT count(*) FROM got JOIN want USING ({keys})
        WHERE {same} AND abs(got.{approx} - want.{approx})
              <= {ABS_TOL} + {REL_TOL} * abs(want.{approx}))""").fetchone()
    if n_got == n_keys == n_want == n_same:
        return None
    return (f"{n_got} rows ({n_keys} distinct keys), oracle {n_want}, "
            f"{n_same} equal")


def sliding_duty_cycle(con, event_files, sink_files) -> "str | None":
    """The drain's parquet sink (less the flush sentinel's rows) against
    ``_SLIDING_ORACLE``, the 10 min / 2 min duty cycle over every reading
    (the flush sentinel closes every real window)."""
    from insight_de_smart_grid_spark.plans.query_library import (
        _SLIDING_ORACLE,
    )
    view(con, "events", event_files)
    cols = "time_end, house_id, appliance_id, duty_cycle"
    got = (f"SELECT {cols} FROM read_parquet({_files(sink_files)}) "
           "WHERE house_id <> '-1'") if sink_files else \
        f"SELECT {cols} FROM ({_SLIDING_ORACLE}) WHERE FALSE"
    return same_table(con, got, f"SELECT {cols} FROM ({_SLIDING_ORACLE})",
                      "time_end, house_id, appliance_id", "", "duty_cycle")


def closed_readings_cte(watermark_ms: int) -> str:
    """Readings whose 1 s rollup window the watermark has closed (Spark
    evicts a window in append mode once ``window.end <= watermark``)."""
    wm = dt.datetime.fromtimestamp(watermark_ms / 1000, dt.timezone.utc)
    wm_sql = wm.strftime("%Y-%m-%d %H:%M:%S.%f")
    return (f"SELECT * FROM ({READINGS_SQL_VIEW}) r "
            f"WHERE time_bucket(INTERVAL '1 seconds', r.ts) "
            f"+ INTERVAL 1 SECOND <= TIMESTAMP '{wm_sql}'")


def watermark_ms(con, event_files, delay_ms: int = 2000) -> int:
    view(con, "events", event_files)
    (mx,) = con.execute("SELECT epoch_ms(max(ts)) FROM events").fetchone()
    return int(mx) - delay_ms


def rollup_cube(con, event_files, cube_files) -> "str | None":
    """The materialized cube equals ``rollup_oracle_sql`` restricted to
    the windows the watermark has closed."""
    cte = closed_readings_cte(watermark_ms(con, event_files))
    keys = "window_start, house_id, appliance_id, appliance_name"
    want = (f"SELECT {keys}, cnt, sum_power "
            f"FROM ({rollup.rollup_oracle_sql(cte)})")
    got = (f"SELECT {keys}, cnt, sum_power FROM read_parquet("
           f"{_files(cube_files)}, hive_partitioning=false)") \
        if cube_files else f"{want} WHERE FALSE"
    return same_table(con, got, want, keys, "cnt", "sum_power")


def refresh_oracles(closed: str, raw: str,
                    split_houses: "list[str]") -> "dict[str, str]":
    """tile -> oracle SQL. Cube tiles read the readings whose windows the
    watermark has closed (``closed``); raw tiles read every delivered
    reading (``raw``)."""
    return {
        "total_power": dash.total_power_oracle_sql(closed),
        "top_houses": dash.top_k_oracle_sql(closed, "house_id"),
        "top_appliances": dash.top_k_oracle_sql(closed, "appliance_id"),
        "time_series": dash.time_series_oracle_sql(closed, 60),
        "reaggregate": rollup.reagg_oracle_sql(closed),
        "filtered_split": dash.filtered_split_oracle_sql(raw, split_houses),
        "m4_downsample": dash.m4_downsample_oracle_sql(raw, 60),
        "history": hist.history_oracle_sql(raw),
    }


def refresh(con, event_files, tiles: "dict[str, list[tuple]]",
            split_houses: "list[str]") -> "str | None":
    """Every tile of one refresh against its oracle twin."""
    closed = closed_readings_cte(watermark_ms(con, event_files))
    for tile, sql in refresh_oracles(closed, READINGS_SQL_VIEW,
                                     split_houses).items():
        bad = same_rows(tiles[tile], con.execute(sql).fetchall())
        if bad:
            return f"{tile}: {bad}"
    return None


def dedup_pairs(con, doc_files) -> "list[tuple]":
    view(con, "documents", doc_files)
    return con.execute(minhash_lsh_oracle_sql()).fetchall()


def dedup_probe(con, corpus_files, probe_files,
                probe_lo: int) -> "list[tuple]":
    """Pairs between probe docs and the index: the MinHash pairs over the
    corpus plus every probe file, keeping those with exactly one side in
    the corpus (probe ids are ``>= probe_lo``). Pairs are (corpus doc,
    probe doc)."""
    view(con, "documents", [*corpus_files, *probe_files])
    return con.execute(
        f"SELECT * FROM ({minhash_lsh_oracle_sql()}) "
        f"WHERE (doc_a < {probe_lo}) <> (doc_b < {probe_lo})").fetchall()


def ivf_ingest(con, vec_files, n_batches: int, k: int, n_centroids: int,
               nprobe: int) -> "list[tuple]":
    view(con, "embeddings", vec_files)
    return con.execute(ivf_index_ingest_oracle_sql(
        n_batches, k, n_centroids, nprobe)).fetchall()


def ivf_probe(con, vec_files, query_file, n_batches: int, k: int,
              n_centroids: int, nprobe: int) -> "list[tuple]":
    """Exact top-k by rounded cosine over every corpus vector in each
    query's ``nprobe`` probed lists, the quantizer and list assignment
    being the ingest oracle's (slice 0's lowest ids, frozen)."""
    view(con, "embeddings", vec_files)
    view(con, "queries", [query_file])
    cos = "round(list_cosine_similarity({a}, {b}), 6)"
    return con.execute(f"""
WITH nz AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM queries),
cents AS (
  SELECT vec_id AS c_id, v AS cv FROM nz
  WHERE vec_id % {n_batches} = 0 ORDER BY vec_id LIMIT {n_centroids}
),
assigned AS (
  SELECT vec_id, cluster FROM (
    SELECT e.vec_id, c.c_id AS cluster,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {cos.format(a='e.v', b='c.cv')} DESC, c.c_id) AS rn
    FROM nz e, cents c) WHERE rn = 1
),
probes AS (
  SELECT query_id, cluster FROM (
    SELECT q.query_id, c.c_id AS cluster,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY {cos.format(a='q.qv', b='c.cv')} DESC, c.c_id) AS rn
    FROM q, cents c) WHERE rn <= {nprobe}
),
scored AS (
  SELECT p.query_id, e.vec_id, {cos.format(a='e.v', b='q.qv')} AS cos_sim
  FROM probes p
  JOIN assigned a ON a.cluster = p.cluster
  JOIN nz e ON e.vec_id = a.vec_id
  JOIN q ON q.query_id = p.query_id
)
SELECT query_id, vec_id, cos_sim FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, vec_id) AS rn
  FROM scored) WHERE rn <= {k}
""").fetchall()
