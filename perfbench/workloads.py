"""The benchmark's workloads: the timed operations of a pass, each
paired with the DuckDB oracle SQL its result is checked against, and
the per-layer probes of the traced run.

Operations drive the engine only through its public entry points
(``plans.REGISTRY``, ``plans.registry.load``, ``sources.warehouse``,
``operators.*``, ``functions.*``). Engine modules are imported inside
the functions, so a run that re-imports the engine (the set-up
samples) always calls the current modules.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass

import pandas as pd

from gen import Scale

@dataclass
class Ctx:
    """What an operation or probe needs: the session, the generated
    input directory, the seed, the tracer and a scratch directory for
    table writes."""

    spark: object
    data_dir: str
    seed: int
    tracer: object
    scratch: str


@dataclass
class Op:
    name: str
    oracle_name: str
    run: Callable[[Ctx], pd.DataFrame]


@dataclass
class Workload:
    name: str
    scale: Scale
    copies: int
    ops: list[Op]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _committed_bytes(table: str) -> int:
    """Bytes of the table's newest version directory (``v{N:06d}``, the
    ``sources.warehouse`` layout): what the last commit wrote."""
    newest = max(d for d in os.listdir(table) if d[:1] == "v" and d[1:].isdigit())
    root = os.path.join(table, newest)
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs)


def registry_op(name: str) -> Op:
    """A registered query: build its plan fresh, then consume it."""

    def run(ctx: Ctx) -> pd.DataFrame:
        from datapipeline_spike_spark.plans import REGISTRY

        with ctx.tracer.span("plans.build", name):
            df = REGISTRY[name].spark(ctx.spark, ctx.data_dir)
        with ctx.tracer.span("exec", name):
            return df.toPandas()

    return Op(name, name, run)


UPSERT_BATCHES = 2


def lake_upsert_op() -> Op:
    """Fold the event stream into a latest-state table with
    ``warehouse.upsert_latest``, one copy-on-write commit per batch.
    The seed picks each event's batch, so every seed gives another
    arrival order; the final table must equal ``dedup_latest_state``."""
    name = "lake_upsert_fold"

    def run(ctx: Ctx) -> pd.DataFrame:
        from pyspark.sql import functions as F

        from datapipeline_spike_spark.plans.registry import load
        from datapipeline_spike_spark.sources.warehouse import read_state_table, upsert_latest

        table = os.path.join(ctx.scratch, "lake_state")
        shutil.rmtree(table, ignore_errors=True)
        with ctx.tracer.span("plans.build", name):
            ev = load(ctx.spark, ctx.data_dir, "events").select("user_id", "event_type", "event_id", "ts")
            batch = F.pmod(F.xxhash64("event_id", F.lit(ctx.seed)), F.lit(UPSERT_BATCHES))
        for i in range(UPSERT_BATCHES):
            with ctx.tracer.span("sources.upsert_latest", name):
                upsert_latest(ctx.spark, table, ev.filter(batch == i),
                              keys=["user_id", "event_type"], ts_col="ts", tiebreak="event_id")
        with ctx.tracer.span("exec", name):
            return read_state_table(ctx.spark, table).select(
                "user_id", "event_type", "event_id", "ts").toPandas()

    return Op(name, "dedup_latest_state", run)


# --- per-layer probes (traced run only) --------------------------------------
#
# Each probe forces one layer alone over an input that was persisted
# (and materialized) beforehand under a "probe.input" span, so the
# probe span's time is that layer's work. Both workloads run every
# probe over their own inputs, so no per-layer time reads a constant 0.


def _persisted(ctx: Ctx, label: str, build: Callable):
    """``build()`` persisted and materialized under a span (building can
    fire jobs too: schema inference, eager barriers)."""
    with ctx.tracer.span("probe.input", label):
        df = build().persist()
        df.count()
    return df


def probes(ctx: Ctx, force: Callable) -> dict:
    """Run every layer probe; returns the probe counts and ratios."""
    out = event_probes(ctx, force)
    out.update(corpus_probes(ctx, force))
    return out


def event_probes(ctx: Ctx, force: Callable) -> dict:
    from pyspark.sql import functions as F

    from datapipeline_spike_spark.functions.spectral import spectral_energy_fft
    from datapipeline_spike_spark.operators.joins import asof_join
    from datapipeline_spike_spark.operators.sessions import sessionize
    from datapipeline_spike_spark.plans.registry import load
    from datapipeline_spike_spark.sources.warehouse import scd2_upsert, upsert_latest

    for t in ("lineitem", "orders", "customer", "events"):
        force("load", t, lambda t=t: _noop(load(ctx.spark, ctx.data_dir, t)))
    ev = _persisted(ctx, "events", lambda: load(ctx.spark, ctx.data_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"))
    arrays = _persisted(ctx, "value_arrays",
                        lambda: ev.groupBy("user_id").agg(F.collect_list("value").alias("vals")))
    force("functions.spectral.spectral_energy_fft", "value_arrays",
          lambda: _noop(arrays.select(spectral_energy_fft("vals"))))
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    signups = ev.filter(F.col("event_type") == "signup").select("user_id", "ts")
    force("operators.joins.asof_join", "events",
          lambda: _noop(asof_join(purchases, signups, on=["user_id"], value_cols=[], tiebreak="event_id")))
    force("operators.sessions.sessionize", "events",
          lambda: _noop(sessionize(ev, "user_id", "ts", gap_minutes=30, tiebreak="event_id")))

    # the write path: two-batch latest-state fold and two-half SCD2 merge
    out = {"sources.versions_committed": 0, "sources.output_bytes": 0}
    changes = ev.select("user_id", "event_type", "ts", "event_id")
    batch = F.pmod(F.xxhash64("event_id", F.lit(ctx.seed)), F.lit(UPSERT_BATCHES))
    cutoff = F.lit("2024-01-16 00:00:00").cast("timestamp")
    writes = [("sources.upsert_latest", "fold_state", changes.filter(batch == i),
               lambda t, d: upsert_latest(ctx.spark, t, d, keys=["user_id", "event_type"],
                                          ts_col="ts", tiebreak="event_id"))
              for i in range(UPSERT_BATCHES)]
    writes += [("sources.scd2_upsert", "scd2_state", half,
                lambda t, d: scd2_upsert(ctx.spark, t, d, keys=["user_id"], state_col="event_type"))
               for half in (changes.filter(F.col("ts") < cutoff), changes.filter(F.col("ts") >= cutoff))]
    for span, table, data, write in writes:
        path = os.path.join(ctx.scratch, table)
        force(span, table, lambda: write(path, data))
        out["sources.versions_committed"] += 1
        out["sources.output_bytes"] += _committed_bytes(path)
    return out


CURATION_STAGES = ("00_input", "10_paragraph_dedup", "20_quality_floor", "30_neardup_best_copy", "40_redacted")
CURATION_MIN_QUALITY = 0.45
JACCARD = 0.8


def corpus_probes(ctx: Ctx, force: Callable) -> dict:
    from pyspark.sql import functions as F

    from datapipeline_spike_spark.functions.text import quality_score, shingles, tokens
    from datapipeline_spike_spark.operators.curation import curation_profile
    from datapipeline_spike_spark.operators.dedup import (
        connected_components,
        dedup_corpus,
        lsh_candidate_pairs,
        minhash_signature_from_shingles,
        paragraph_dedup,
        simhash64,
    )
    from datapipeline_spike_spark.operators.redaction import redact
    from datapipeline_spike_spark.operators.similarity import (
        brute_force_topk,
        hard_negative_mining,
        lsh_bucket_topk,
        semdedup,
    )
    from datapipeline_spike_spark.plans.registry import load

    out: dict = {}
    docs = _persisted(ctx, "documents", lambda: load(ctx.spark, ctx.data_dir, "documents"))
    emb = _persisted(ctx, "embeddings", lambda: load(ctx.spark, ctx.data_dir, "embeddings"))
    force("load", "documents", lambda: _noop(load(ctx.spark, ctx.data_dir, "documents")))
    force("load", "embeddings", lambda: _noop(load(ctx.spark, ctx.data_dir, "embeddings")))

    force("functions.text.tokens", "documents", lambda: _noop(docs.select(tokens("text"))))
    shingled = docs.select("doc_id", shingles("text").alias("sh"))
    force("functions.text.shingles", "documents", lambda: _noop(shingled))
    sh = _persisted(ctx, "shingles", lambda: shingled)
    force("operators.dedup.minhash_signature_from_shingles", "shingles",
          lambda: _noop(minhash_signature_from_shingles(sh, "doc_id", "sh")))
    force("operators.dedup.simhash64", "documents", lambda: _noop(simhash64(docs)))

    force("operators.dedup.lsh_candidate_pairs", "documents", lambda: _noop(lsh_candidate_pairs(docs)))
    pairs = _persisted(ctx, "candidates", lambda: lsh_candidate_pairs(docs))
    edges = pairs.select(F.col("doc_id_a").alias("src"), F.col("doc_id_b").alias("dst"))
    force("operators.dedup.connected_components", "candidates",
          lambda: _noop(connected_components(edges, docs.select(F.col("doc_id").alias("id")))))
    with ctx.tracer.span("probe.verify", "candidates"):
        a, b = sh.alias("a"), sh.alias("b")
        jac = (pairs.join(a, F.col("doc_id_a") == F.col("a.doc_id"))
               .join(b, F.col("doc_id_b") == F.col("b.doc_id"))
               .select((F.size(F.array_intersect("a.sh", "b.sh"))
                        / F.size(F.array_union("a.sh", "b.sh"))).alias("j")))
        n_cand = pairs.count()
        n_ver = jac.filter(F.col("j") >= JACCARD).count()
    out["dedup.lsh_precision"] = n_ver / n_cand if n_cand else 0.0

    queries = emb.filter(F.col("vec_id") % 16 == 0)
    force("operators.similarity.brute_force_topk", "embeddings",
          lambda: _noop(brute_force_topk(emb, queries, k=5)))
    force("operators.similarity.lsh_bucket_topk", "embeddings",
          lambda: _noop(lsh_bucket_topk(emb, queries, dim=64, k=5)))
    force("operators.similarity.semdedup", "embeddings", lambda: _noop(semdedup(emb)))
    force("operators.similarity.hard_negative_mining", "embeddings",
          lambda: _noop(hard_negative_mining(emb, dim=64, label_col="label")))

    # the curation funnel: rows out of every stage, from the profile's
    # own rows, and each stage's operator forced alone
    pages = _persisted(ctx, "pages", lambda: docs.select("doc_id", F.concat(
        F.lit("common header boilerplate\n"), F.col("text"),
        F.lit("\nfooter for lang "), F.col("lang")).alias("text")))
    rows = {}
    force("pipeline.curation_profile", "pages", lambda: rows.update(
        (r["stage"], r["n_docs"]) for r in curation_profile(
            pages, min_quality=CURATION_MIN_QUALITY, jaccard_threshold=JACCARD).collect()))
    for stage in CURATION_STAGES:
        out[f"curation.{stage}.rows_out"] = rows.get(stage, 0)
    force("curation.10_paragraph_dedup", "pages",
          lambda: _noop(paragraph_dedup(pages, sep="\n")))
    force("curation.20_quality_floor", "pages",
          lambda: _noop(pages.filter(quality_score("text") >= CURATION_MIN_QUALITY)))
    force("curation.30_neardup_best_copy", "pages",
          lambda: _noop(dedup_corpus(pages, jaccard_threshold=JACCARD)))
    force("curation.40_redacted", "pages", lambda: _noop(pages.select(redact("text"))))
    return out


WORKLOADS = {
    "etl": Workload(
        name="etl",
        scale=Scale(sf=0.01, documents=100, embeddings=100),
        copies=1,
        # the Arrow UDF query is dominant_frequency_verified, not
        # spectral_energy: see "Known engine defect" in README.md
        ops=[registry_op(q) for q in (
            "vibration_features", "dominant_frequency_verified", "pricing_summary", "purchase_asof_signup")]
        + [lake_upsert_op()],
    ),
    "curation_x4": Workload(
        name="curation_x4",
        scale=Scale(sf=0.01, documents=100, embeddings=100),
        copies=4,
        ops=[registry_op(q) for q in (
            "minhash_lsh_candidates", "simhash_signatures", "embedding_topk_cosine")],
    ),
}
