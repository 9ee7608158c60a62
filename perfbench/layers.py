"""The benchmarked job, untraced and traced.

``run_job`` is what a user runs: ``checkpoint.run_with_merge`` of the
transcripts parquet into a store, i.e. ``plans.pipeline.run_pipeline`` with
coreference off (triples are generated inside the fused extraction scan)
and edges stored unfiltered, then ``merge_into`` of entities and edges.

``run_traced`` computes the same tables by calling each layer's public
functions in turn, with a ``localCheckpoint`` boundary after each layer (so
a layer's wall is its own work, not its consumers') and the layer's Spark
jobs tagged with ``setJobGroup``. Stage metrics for each group come from the
JVM status store, which works with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from entity_extraction_service_spark.operators import linking
from entity_extraction_service_spark.operators.checkpoint import (
    merge_edge_tables,
    merge_entity_tables,
    merge_into,
    run_with_merge,
)
from entity_extraction_service_spark.operators.triples import (
    dedup_and_merge_triples,
    validate_triples,
)
from entity_extraction_service_spark.plans.pipeline import _extract_fused

LAYERS = [
    "extract",
    "linking.surface_forms",
    "linking.candidate_pairs",
    "linking.match_edges",
    "linking.connected_components",
    "linking.canonical_entities",
    "triples.validate",
    "triples.dedup",
    "checkpoint.merge_into",
]

STAGE_FIELDS = ["task_s", "cpu_s", "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
                "spill_bytes"]


def run_job(spark, transcripts_path: str, store: str, config) -> None:
    """Input parquet -> entities and edges snapshots under ``store``."""
    run_with_merge(spark, spark.read.parquet(transcripts_path), store, config)


class _Tracer:
    """Times layers; each layer's Spark jobs run under its own job group."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.walls: dict[str, float] = {}

    def layer(self, name: str, fn):
        self.sc.setJobGroup(f"{self.run_id}:{name}", name)
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            self.walls[name] = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def stage_metrics(self) -> dict[str, dict[str, float]]:
        """Sum the task metrics of every stage attempt of each layer's jobs.

        A job also lists the parent stages it skipped because an earlier
        job (an AQE map-stage job, or an earlier layer's) already ran them,
        so each stage id is counted once, for the first layer listing it."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(60_000)
        store = jsc.statusStore()
        by_id: dict[int, list] = {}
        for s in _stage_list(store):
            by_id.setdefault(s.stageId(), []).append(s)
        out = {}
        seen: set[int] = set()
        tracker = self.sc.statusTracker()
        for name in self.walls:  # in execution order
            stage_ids: set[int] = set()
            for jid in tracker.getJobIdsForGroup(f"{self.run_id}:{name}"):
                info = tracker.getJobInfo(jid)
                stage_ids.update(info.stageIds if info else [])
            stage_ids -= seen
            seen |= stage_ids
            acc = dict.fromkeys(STAGE_FIELDS, 0.0)
            for sid in stage_ids:
                for s in by_id.get(sid, []):
                    acc["task_s"] += s.executorRunTime() / 1e3
                    acc["cpu_s"] += s.executorCpuTime() / 1e9
                    acc["gc_s"] += s.jvmGcTime() / 1e3
                    acc["shuffle_write_bytes"] += s.shuffleWriteBytes()
                    acc["shuffle_read_bytes"] += s.shuffleReadBytes()
                    acc["spill_bytes"] += s.diskBytesSpilled()
            out[name] = acc
        return out


def _stage_list(store):
    """``AppStatusStore.stageList(statuses=None, <defaults>)``: py4j does
    not apply Scala default arguments, so pass the compiler's defaults."""
    defaults = [getattr(store, f"stageList$default${i}")() for i in range(2, 6)]
    seq = store.stageList(None, *defaults)  # a scala Seq: index it
    return [seq.apply(i) for i in range(seq.size())]


def run_traced(spark, transcripts_path: str, store: str, config, run_id: str) -> dict:
    """One traced job. Returns ``{"total_s", "layers": {name: {wall_s,
    rows_in, rows_out, <STAGE_FIELDS>}}, "blocks_over_cap"}``. Row counts
    are taken after ``total_s`` is read, so they cost the trace nothing."""
    tr = _Tracer(spark, run_id)
    transcripts = spark.read.parquet(transcripts_path)
    cp = {}  # layer outputs, kept for the row counts

    def extract():
        # the pipeline's own fused scan, configured as run_with_merge runs
        # it: triples generated in the scan, no verb rows; the fused stream
        # is materialized inside, so the call does the layer's work
        mentions, _, triples = _extract_fused(
            transcripts, config, gen_triples=True, emit_verbs=False
        )
        return mentions, triples

    t0 = time.perf_counter()
    mentions, triples = tr.layer("extract", extract)
    surfaces = cp["linking.surface_forms"] = tr.layer(
        "linking.surface_forms",
        lambda: linking.surface_forms(mentions).localCheckpoint(eager=True),
    )
    pairs = cp["linking.candidate_pairs"] = tr.layer(
        "linking.candidate_pairs",
        lambda: linking.candidate_pairs(surfaces, config).localCheckpoint(eager=True),
    )
    edges = cp["linking.match_edges"] = tr.layer(
        "linking.match_edges",
        lambda: linking.match_edges(pairs, config).localCheckpoint(eager=True),
    )

    def components():
        touched = (
            edges.select(F.col("src").alias("id"))
            .union(edges.select(F.col("dst").alias("id")))
            .distinct()
        )
        return linking.connected_components(
            touched, edges,
            max_iterations=config.cc_max_iterations,
            driver_side_threshold=config.cc_driver_side_threshold,
        ).localCheckpoint(eager=True)

    comps = cp["linking.connected_components"] = tr.layer(
        "linking.connected_components", components
    )

    def canonical():
        ents, smap = linking.canonical_entities(mentions, surfaces, comps, config)
        return ents.localCheckpoint(eager=True), smap.localCheckpoint(eager=True)

    entities, smap = tr.layer("linking.canonical_entities", canonical)
    cp["linking.canonical_entities"] = entities
    validated = cp["triples.validate"] = tr.layer(
        "triples.validate",
        lambda: validate_triples(triples, smap, config).localCheckpoint(eager=True),
    )
    # edges are stored unfiltered, as run_with_merge stores them; the
    # confidence floor applies when they are read back
    out_edges = cp["triples.dedup"] = tr.layer(
        "triples.dedup",
        lambda: dedup_and_merge_triples(validated, config).localCheckpoint(eager=True),
    )

    def merge():
        merge_into(spark, store, "entities", entities,
                   lambda a, b: merge_entity_tables(a, b, config))
        merge_into(spark, store, "edges", out_edges,
                   lambda a, b: merge_edge_tables(a, b, config.confidence_boost_factor))

    tr.layer("checkpoint.merge_into", merge)
    total = time.perf_counter() - t0

    n = {k: df.count() for k, df in cp.items()}
    n["transcripts"] = transcripts.count()
    n["mentions"] = mentions.count()
    n["triples"] = triples.count()
    n["extract"] = n["mentions"] + n["triples"]
    rows_in = {
        "extract": n["transcripts"],
        "linking.surface_forms": n["mentions"],
        "linking.candidate_pairs": n["linking.surface_forms"],
        "linking.match_edges": n["linking.candidate_pairs"],
        "linking.connected_components": n["linking.match_edges"],
        "linking.canonical_entities": n["mentions"],
        "triples.validate": n["triples"],
        "triples.dedup": n["triples.validate"],
        "checkpoint.merge_into": n["linking.canonical_entities"] + n["triples.dedup"],
    }
    rows_out = dict(n)
    rows_out["checkpoint.merge_into"] = rows_in["checkpoint.merge_into"]
    stages = tr.stage_metrics()
    layers = {
        name: {"wall_s": tr.walls[name], "rows_in": rows_in[name],
               "rows_out": rows_out[name], **stages[name]}
        for name in LAYERS
    }
    return {"total_s": total, "layers": layers,
            "blocks_over_cap": blocks_over_cap(surfaces, config)}


def blocks_over_cap(surfaces, config) -> int:
    """Blocking keys (type-compat group, first token) with more surfaces
    than ``blocking_max_block_size``: candidate_pairs drops these blocks."""
    group = F.col("entity_type")
    for types in config.type_compat_groups:
        group = F.when(F.col("entity_type").isin(*types),
                       F.lit("|".join(sorted(types)))).otherwise(group)
    return (
        surfaces.groupBy(group.alias("g"), "block_key").count()
        .where(F.col("count") > config.blocking_max_block_size).count()
    )
