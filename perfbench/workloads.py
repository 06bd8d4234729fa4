"""The workloads and the operations each pass dispatches.

An operation is one call into the engine's public surface, split in two
timed halves: ``build`` (the query function or reader call — eager
fills and driver collects included) and ``execute`` (materializing the
result: ``toPandas()`` for queries, the Parquet sink for ingest).
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass
from typing import Any, Callable

#: Engine modules the workloads exercise; per-layer metrics are
#: attributed to them.
MODULES = (
    "sources.geotiff",
    "sources.datasource",
    "operators.relational",
    "operators.bucketing",
    "operators.skew",
    "streaming.events",
    "sources.files",
    "sources.demo",
    "functions.dedup",
    "functions.vectors",
    "functions.text",
    "functions.pipeline",
    "functions.multimodal",
    "functions.udfs",
)

#: Fixed query subset of the pipeline workload: one cheap member of each
#: query module, so every module a later change may touch runs in every
#: pass. A full pass of the 178 queries takes minutes on 4 cores; a run
#: affords about 12 s per pass. v06 builds the PQ index, a cross-query
#: memo, in the cold pass and reuses it in the steady ones; the pass
#: stays at 12 dispatches because ``scratch.MEMO_AGE_CAP`` (12) expires
#: a memo idle for more dispatches than that. Left out: the pagerank
#: queries of operators.graph (l02 alone takes 13 s cold and 6 s steady
#: here) and q72 of operators.zorder (a 13th dispatch would expire the
#: PQ memo before every reuse).
PIPELINE_QUERIES = (
    "q05_inner_join", "b01_bucketed_fact_join", "k01_salted_hot_join",
    "s09_running_totals", "f01_csv_json_roundtrip", "g02_spatial_box",
    "d01_exact_dedup_count", "v06_ann_topk_pq", "t02_quality_score",
    "p04_pii_redact", "m03_frame_sample_stats", "u03_scalar_cosine",
)

#: Queries without a DuckDB oracle: the result's (column, type) schema
#: they must return. Each result must be non-empty and, as the query is
#: deterministic, hash the same in every pass of a run.
ROWS_ONLY = {
    "v06_ann_topk_pq": (
        ("query_id", "bigint"), ("rank", "int"), ("neighbor_id", "bigint"), ("cos", "double"),
    ),
}

#: Region every run ingests.
INGEST_SET = "netherlands"

#: Per workload: its queries, or its tile set (in-region tiles,
#: out-of-region tiles, tile edge in pixels) for the three ingest
#: operations; and the steady passes a run makes at the least. At the
#: declared run length every run makes exactly that many: pass times
#: keep falling for several passes (code generation, JIT), so a count
#: that varied between runs would change which pass is the fastest.
#: An ingest pass costs 3.5 s and still runs 10-20 % faster than the
#: one before it; a third pipeline pass would cost 10 s a run, which
#: the time for 48 runs does not leave.
WORKLOADS = {
    "ingest": {"queries": (), "tiles": (4, 2, 600), "steady": 3},
    "pipeline": {"queries": PIPELINE_QUERIES, "tiles": None, "steady": 2},
}


@dataclass
class Op:
    name: str
    module: str
    build: Callable[[], Any]
    execute: Callable[[Any], Any]


def module_of(fn) -> str:
    """Engine module implementing a contract query ("operators.graph")."""
    target = getattr(fn, "__wrapped__", fn)
    return target.__module__.replace("aw3d30_parquet_spark.", "", 1)


def query_order(names, seed: int) -> list[str]:
    """Dispatch order: a permutation of ``names`` drawn from ``seed``.
    The contract's own order follows the correctness history and git
    commit times, so it would move with every commit."""
    order = sorted(names)
    random.Random(seed).shuffle(order)
    return order


def query_ops(spark, contract_queries: dict, order: list[str], sf_dir: str) -> list[Op]:
    """One operation per query. Every result comes back as a pandas
    frame, as the contract's oracle comparison reads it, so each pass's
    results can be checked; the subset's results hold at most 5,000
    rows. ``execute`` returns the Spark schema with the frame."""
    def materialize(df):
        return df.toPandas(), tuple(df.dtypes)

    def op(name: str) -> Op:
        fn = contract_queries[name]
        return Op(name, module_of(fn), lambda: fn(spark, sf_dir), materialize)

    return [op(n) for n in order]


def tile_coords(seed: int, n_in: int, n_out: int) -> tuple[list, list]:
    """Seeded in-region and out-of-region tile coordinates."""
    from aw3d30_parquet_spark.sources.geotiff import in_region, tiles_for_set

    rng = random.Random(seed)
    inside = sorted(rng.sample(tiles_for_set(INGEST_SET), n_in))
    outside = sorted(
        rng.sample(
            [t for t in tiles_for_set("france") if not in_region(INGEST_SET, *t)],
            n_out,
        )
    )
    return inside, outside


def ingest_ops(spark, tif_dir: str, out_read: str, out_ds: str) -> list[Op]:
    """One ingest pass: both read paths into fresh directories, then the
    skip-if-exists re-run over the populated output (writes 0 rows)."""
    from aw3d30_parquet_spark.sources.geotiff import read_tiles
    from aw3d30_parquet_spark.sources.sink import ingest_tiles, write_tiles

    def rerun_done(written) -> None:
        if written:
            raise RuntimeError(f"re-run ingested {len(written)} tiles")

    return [
        Op(
            "read_tiles",
            "sources.geotiff",
            lambda: read_tiles(spark, tif_dir, INGEST_SET),
            lambda df: write_tiles(df, out_read),
        ),
        Op(
            "format_aw3d30",
            "sources.datasource",
            lambda: spark.read.format("aw3d30")
            .option("set", INGEST_SET)
            .load(tif_dir),
            lambda df: write_tiles(df, out_ds),
        ),
        Op(
            "ingest_rerun",
            "sources.geotiff",
            lambda: ingest_tiles(spark, tif_dir, out_read, INGEST_SET),
            rerun_done,
        ),
    ]


def parquet_bytes(out_dir: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(out_dir):
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if f.endswith(".parquet")
        )
    return total
