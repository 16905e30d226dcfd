"""One benchmark repetition in a fresh driver process (fresh JVM).

``python3 worker.py <spec.json>`` times the session set-up and then the one
workload operation, checks the operation's output, and writes its result to
``spec["result"]``.  With ``spec["trace"]`` it instead runs the operation
under a job group, re-runs the operator chain layer by layer, attaches an
incremental batch to the operation's finished workdir, and reports per-layer
metrics (see tracing.py).  run.py builds the specs.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import time
import traceback

from pyspark import SparkContext
from pyspark.sql import functions as F

from deduplication_challenge_spark.config import DedupConfig
from deduplication_challenge_spark.operators import lsh, simhash, suffixarray, verify
from deduplication_challenge_spark.operators.connected_components import connected_components
from deduplication_challenge_spark.operators.consolidate import attach_clusters, consolidate
from deduplication_challenge_spark.operators.ingest import extract_pages
from deduplication_challenge_spark.operators.signatures import compute_signatures
from deduplication_challenge_spark.plans.incremental import IncrementalDedup
from deduplication_challenge_spark.plans.pipeline import DedupPipeline
from deduplication_challenge_spark.session import build_session
from deduplication_challenge_spark.sources.pages import pages_from_documents

from inputs import REPLICA_SPAN
from tracing import SPARK_METRICS, Tracer

OPERATOR_LAYERS = (
    "operators.ingest", "operators.signatures", "operators.lsh", "operators.simhash",
    "operators.suffixarray", "operators.verify", "operators.connected_components",
    "operators.consolidate",
)
SPARK_LAYERS = (*OPERATOR_LAYERS, "plans.pipeline", "plans.incremental")
PIPELINE_STAGES = ("ingest", "signatures", "candidates", "verify", "cc", "consolidate")
MIN_RECALL = 0.99


class CheckFailed(Exception):
    pass


def _require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def _describe(e: Exception) -> str:
    if not isinstance(e, CheckFailed):
        traceback.print_exc()
    return f"{type(e).__name__}: {e}"


def _session(spec: dict):
    cores = spec["cores"]
    return build_session(
        f"perfbench-{spec['workload']}", master=f"local[{cores}]", shuffle_partitions=cores,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers) to exit."""
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


# --- output checks (outside the timed region) --------------------------------

def canonical_summary(canonical) -> tuple[dict, dict]:
    """Row count, member conservation and a layout-independent digest, from
    one collect of the canonical table; also maps each member url to its
    cluster id."""
    rows = canonical.select(
        "cluster_id", "n_members", "member_urls",
        F.sha2(F.to_json(F.struct(*canonical.columns)), 256).alias("h"),
    ).collect()
    digest = hashlib.sha256(
        "\n".join(h for _, h in sorted((r["cluster_id"], r["h"]) for r in rows)).encode()
    ).hexdigest()
    clusters = {u: r["cluster_id"] for r in rows for u in r["member_urls"]}
    return {"canonical": len(rows), "members": sum(r["n_members"] for r in rows),
            "max_members": max((r["n_members"] for r in rows), default=0),
            "member_urls": len(clusters), "digest": digest}, clusters


def replica_recall(clusters: dict) -> float:
    """Share of planted pairs (replica 0, replica r) that share a cluster;
    ``clusters`` maps each member url to its cluster id."""
    first, others = {}, []
    for url, cluster in clusters.items():
        base, rep = divmod(int(url.rsplit("/", 1)[1]), REPLICA_SPAN)
        if rep == 0:
            first[base] = cluster
        else:
            others.append((base, cluster))
    if not others:
        return 1.0
    return sum(first.get(b) == c for b, c in others) / len(others)


def _check_determinism(path: str, observed: dict) -> None:
    """The same seed and size must give the same output on every run."""
    if os.path.exists(path):
        with open(path) as f:
            before = json.load(f)
        _require(before == observed, f"output changed for the same seed: {before} != {observed}")
        return
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(observed, f)
    os.replace(path + ".tmp", path)


def check_pipeline(spec: dict, canonical) -> dict:
    s, clusters = canonical_summary(canonical)
    n = spec["input_docs"]
    _require(s["members"] == n, f"members {s['members']} != input docs {n}")
    _require(s["member_urls"] == n, f"distinct member urls {s['member_urls']} != {n}")
    # an expected value is exact, or an inclusive [low, high] range
    for key, want in spec["expect"].items():
        ok = want[0] <= s[key] <= want[1] if isinstance(want, list) else s[key] == want
        _require(ok, f"{key} {s[key]} != expected {want}")
    if spec["replicas"]:
        s["recall"] = replica_recall(clusters)
        _require(s["recall"] >= MIN_RECALL, f"planted-pair recall {s['recall']:.4f}")
    _check_determinism(spec["expect_file"], {k: s[k] for k in ("canonical", "digest")})
    return s


def _listing(root: str) -> list:
    out = []
    for d, _, files in os.walk(root):
        for name in files:
            st = os.stat(os.path.join(d, name))
            out.append((os.path.relpath(os.path.join(d, name), root), st.st_size,
                        st.st_mtime_ns))
    return sorted(out)


def check_incremental(spec: dict, batch_pages, assignments, report: dict, n_updates: int,
                      index_dir: str, index_before: list) -> dict:
    batch = spec["batch_docs"]
    _require(report["new_docs"] == batch, f"new_docs {report['new_docs']} != {batch}")
    halves = {
        r["fresh"]: (r["n"], r["attached"])
        for r in assignments.join(
            batch_pages.select(F.xxhash64("url").alias("doc_id"),
                               F.col("url").contains("://fresh").alias("fresh")),
            "doc_id",
        ).groupBy("fresh").agg(
            F.count("*").alias("n"), F.sum(F.col("attached").cast("long")).alias("attached")
        ).collect()
    }
    replica_n, replica_att = halves.get(False, (0, 0))
    fresh_n, fresh_att = halves.get(True, (0, 0))
    _require(replica_n == fresh_n == batch // 2, f"batch halves {halves}")
    attach_ratio = replica_att / replica_n
    _require(attach_ratio >= MIN_RECALL, f"replica attach ratio {attach_ratio:.4f}")
    _require(fresh_att == 0, f"{fresh_att} remapped docs attached to the index")
    _require(_listing(index_dir) == index_before, "run() wrote to the index")
    counters = {k: report[k] for k in
                ("new_docs", "cross_pairs_verified", "attached_docs", "new_clusters", "bridges")}
    counters["canonical_updates"] = n_updates
    _check_determinism(spec["expect_file"] + ".incremental", counters)
    return {**counters, "attach_ratio": attach_ratio}


# --- the timed operation ----------------------------------------------------

def _prepare(spark, spec: dict):
    """Per-run input preparation, part of set-up."""
    pages = pages_from_documents(spark, spec["input_dir"])
    pipe = DedupPipeline(spark, DedupConfig(), os.path.join(spec["work"], "pipeline"),
                         include_substring=True)
    return pages, pipe


def _operate(spec: dict, pages, pipe):
    canonical, report = pipe.run(pages, input_desc=spec["input_dir"])
    return canonical, canonical.count(), report


# --- the traced operator chain ----------------------------------------------

def operator_chain(spark, tracer: Tracer, pages, work: str) -> dict:
    """Call each operator layer through its public functions, materialising
    every output to parquet as the pipeline does; returns row counts."""
    cfg = DedupConfig()

    def save(df, name):
        path = os.path.join(work, name)
        df.write.mode("overwrite").parquet(path)
        out = spark.read.parquet(path)
        return out, out.count()

    rows = {}
    with tracer.span("operators", spark_group=False):
        with tracer.span("operators.ingest"):
            docs, rows["docs"] = save(extract_pages(pages), "ingest")
        with tracer.span("operators.signatures"):
            sigs, _ = save(compute_signatures(docs, cfg), "signatures")
        with tracer.span("operators.lsh"):
            lsh_edges, stats = lsh.candidate_pairs(lsh.band_table(sigs), cfg)
            lsh_edges, rows["lsh"] = save(lsh_edges, "lsh")
            stats.collect()
        with tracer.span("operators.simhash"):
            sim_edges, stats = simhash.hamming_pairs(sigs, cfg)
            sim_edges, _ = save(sim_edges, "simhash")
            stats.collect()
        with tracer.span("operators.suffixarray"):
            anchors, rows["anchors"] = save(suffixarray.anchor_table(docs, cfg), "anchors")
            sub_edges, _ = save(suffixarray.substring_pairs_from_anchors(anchors, cfg), "substring")
        with tracer.span("operators.verify"):
            verified, rows["verified"] = save(
                verify.verify_pairs(lsh_edges, sigs, cfg).select("src", "dst"), "verify")
        with tracer.span("operators.connected_components"):
            edges = verified.unionByName(sim_edges.select("src", "dst")).unionByName(
                sub_edges.select("src", "dst")).distinct()
            edges, rows["edges"] = save(edges, "edges")
            assignments, rows["nodes"] = save(
                connected_components(edges, checkpoint_mode=cfg.checkpoint_mode), "cc")
        with tracer.span("operators.consolidate"):
            _, rows["canonical"] = save(
                consolidate(attach_clusters(docs, assignments), cfg.min_group_size), "consolidate")
    return rows


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def attach_batch(spark, tracer: Tracer, spec: dict) -> dict:
    """plans.incremental: attach a seeded batch to the finished pipeline
    workdir of this run, which serves as the index and is only read."""
    index_dir = os.path.join(spec["work"], "pipeline")
    index_before = _listing(index_dir)
    batch_pages = pages_from_documents(spark, spec["batch_dir"])
    inc = IncrementalDedup(spark, DedupConfig(), index_dir)
    with tracer.span("plans.incremental"):
        updates, assignments, _bridges, report = inc.run(batch_pages)
        n_updates = updates.count()
    return check_incremental(spec, batch_pages, assignments, report, n_updates, index_dir,
                             index_before)


def traced(spec: dict) -> dict:
    tracer = Tracer(spec["cores"])
    with tracer.span("session", spark_group=False) as session_span:
        spark = tracer.spark = _session(spec)
    try:
        pages, pipe = _prepare(spark, spec)
        with tracer.span("plans.pipeline"):
            canonical, n_canonical, report = _operate(spec, pages, pipe)
        check = check_pipeline(spec, canonical)
        with tracer.span("sources.pages") as src:
            pages.write.mode("overwrite").parquet(os.path.join(spec["work"], "pages"))
        rows = operator_chain(spark, tracer, pages, os.path.join(spec["work"], "chain"))
        check["incremental"] = attach_batch(spark, tracer, spec)
    finally:
        _stop(spark)
    _require(rows["canonical"] == n_canonical,
             f"operator chain gave {rows['canonical']} canonical, pipeline {n_canonical}")
    layer = {s.name: s.metrics for s in tracer.spans}
    metrics = {"session.wall_s": session_span.end - session_span.start}
    for name in SPARK_LAYERS:
        for k in SPARK_METRICS:
            metrics[f"{name}.{k}"] = float(layer[name][k])
    for k in ("wall_s", "jobs", "tasks"):
        metrics[f"sources.pages.{k}"] = float(src.metrics[k])
    metrics["operators.verify.accept_ratio"] = _ratio(rows["verified"], rows["lsh"])
    metrics["operators.lsh.pairs_per_doc"] = _ratio(rows["lsh"], rows["docs"])
    metrics["operators.suffixarray.anchors_per_doc"] = _ratio(rows["anchors"], rows["docs"])
    metrics["operators.connected_components.nodes_per_edge"] = _ratio(rows["nodes"], rows["edges"])
    for stage in PIPELINE_STAGES:
        metrics[f"plans.pipeline.stage.{stage}.wall_s"] = report.stages[stage].seconds
    # the pipeline's own time: the run outside its six stages
    metrics["plans.pipeline.self_s"] = metrics["plans.pipeline.wall_s"] - sum(
        report.stages[stage].seconds for stage in PIPELINE_STAGES)
    metrics["trace.collect_s"] = tracer.collect_s
    tracer.write(spec["trace_file"])
    return {"ok": True, "metrics": metrics, "check": check}


def timed(spec: dict) -> dict:
    """Set-up, then the one workload operation; a failing operation or
    check still reports its timings."""
    t0 = time.monotonic()
    spark = _session(spec)
    res = {"ok": False}
    try:
        pages, pipe = _prepare(spark, spec)
        res["setup_s"] = time.monotonic() - t0
        t1 = time.monotonic()
        try:
            canonical, _, report = _operate(spec, pages, pipe)
        finally:
            res["e2e_s"] = time.monotonic() - t1
        res["stages"] = {k: v.seconds for k, v in report.stages.items()}
        res["check"] = check_pipeline(spec, canonical)
        res["ok"] = True
    except Exception as e:
        res["error"] = _describe(e)
    finally:
        _stop(spark)
    return res


def main() -> None:
    with open(sys.argv[1]) as f:
        spec = json.load(f)
    t0 = time.monotonic()
    try:
        res = traced(spec) if spec["trace"] else timed(spec)
    except Exception as e:
        res = {"ok": False, "error": _describe(e)}
    res["wall_s"] = time.monotonic() - t0
    with open(spec["result"], "w") as f:
        json.dump(res, f)


if __name__ == "__main__":
    main()
