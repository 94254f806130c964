"""The two extraction workloads.

``born_digital``: the headline families (``fixtures.BENCH_FAMILIES``:
health, twotables, prose under Stream; foo, rowspan under segment
Lattice, with the 5% twotables skew of ``fixtures.builder_for``), read
back from parquet in the production JSON span encoding and pushed
through ``pipeline.extract()`` under each family's flavor into a noop
sink. Span ingest and Stream detection carry the work.

``full_corpus_commit``: every fixture family under its own config group
(``fixtures.families_by_config()``), written with
``pipeline.run_extraction`` to a fresh ``SnapshotLog`` path: one commit
per group over the first half of the group's docs, then a resume pass
per group over the whole table that must skip the committed half.
Raster kernels carry the work, and it is the only workload that writes
snapshots and reads them back.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import time
from functools import reduce

import harness

DOCS = {"born_digital": 2000, "full_corpus_commit": 460}
DOCS_PER_FILE = 24   # input files (and scan partitions) per group scale with its size
TRACE_REPLAYS = 3    # untraced/traced replay pairs in a traced run


class Group:
    """Docs of one (flavor, kwargs) config group and their expected
    output span sequences."""

    def __init__(self, flavor: str, kwargs: dict, families: list[str]):
        self.flavor = flavor
        self.kwargs = kwargs
        self.families = families
        self.docs: list[tuple[str, list[dict]]] = []
        self.expected: dict[str, list[tuple]] = {}
        self.path = ""          # parquet dir of all docs
        self.first_path = ""    # parquet dir of the first half


def _groups_for(workload: str) -> list[Group]:
    from camelot_spark import fixtures as fx

    if workload == "born_digital":
        return [Group("stream", {}, list(fx.STREAM_FAMILIES)),
                Group("lattice", {}, list(fx.LATTICE_FAMILIES))]
    return [Group(f, kw, fams) for f, kw, fams in fx.families_by_config()]


def _route(workload: str, key: str, groups: list[Group]):
    """(group, builder) for one seed-derived key."""
    from camelot_spark import fixtures as fx

    if workload == "born_digital":
        b = fx.builder_for(key, families=fx.BENCH_FAMILIES)
        return next(g for g in groups if g.flavor == b.flavor), b
    # families take turns, so every run has the same family mix and the
    # seed moves only the per-doc jitter of fixtures.builder_for
    fams = [(g, f) for g in groups for f in g.families]
    g, fam = fams[int(key.rsplit("-", 1)[1]) % len(fams)]
    return g, fx.builder_for(key, families=[fam])


def _expected(g: Group, b) -> list[tuple]:
    """The doc's golden span sequence. ``splittext`` carries per-doc
    column cuts that no group config can honour, so under its group
    config it is checked against single-process ``extract_document``
    with that same config instead."""
    from camelot_spark import extract_document, make_config

    if b.doc_id.startswith("splittext-"):
        res = extract_document(b.spans, make_config(g.flavor, **g.kwargs))
        return [tuple(s) for s in res["spans"]]
    return [tuple(s) for s in b.golden()]


def _document_spans(b) -> list[dict]:
    """The builder's spans in the ``documents`` table's span struct."""
    return [{"kind": s["kind"], "text": s["text"], "media_ref": s["media_ref"],
             "offset": s["offset"]} for s in b.spans]


def _write_table(rows: list[tuple[str, list[dict]]], path: str, n_files: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from camelot_spark.schema import DOCUMENTS_SCHEMA

    schema = pa.schema([
        pa.field("doc_id", pa.string(), nullable=False),
        pa.field("spans", pa.list_(pa.struct([
            pa.field("kind", pa.string(), nullable=False),
            pa.field("text", pa.string()),
            pa.field("media_ref", pa.string()),
            pa.field("offset", pa.int32(), nullable=False)])), nullable=False),
    ])
    assert [f.name for f in DOCUMENTS_SCHEMA.fields] == schema.names
    os.makedirs(path, exist_ok=True)
    n_files = max(1, min(n_files, len(rows)))
    per = -(-len(rows) // n_files)
    for i in range(n_files):
        part = rows[i * per:(i + 1) * per]
        if part:
            t = pa.Table.from_pylist(
                [{"doc_id": d, "spans": s} for d, s in part], schema=schema)
            pq.write_table(t, os.path.join(path, f"part-{i:03d}.parquet"))


def generate(bench: harness.Bench, workload: str, seed: int, n_docs: int) -> dict:
    """Seeded inputs: docs keyed ``<seed>-<i>``, built by
    ``fixtures.builder_for`` with JSON-encoded span payloads, written
    once as parquet tables (one per config group)."""
    from camelot_spark import fixtures as fx

    groups = _groups_for(workload)
    digest = hashlib.sha256()
    for i in range(n_docs):
        g, b = _route(workload, f"{seed}-{i}", groups)
        spans = _document_spans(b)
        g.docs.append((b.doc_id, spans))
        g.expected[b.doc_id] = _expected(g, b)
        digest.update(json.dumps([b.doc_id, spans], sort_keys=True).encode())
    groups = [g for g in groups if g.docs]
    base = bench.path("data", workload)
    shutil.rmtree(base, ignore_errors=True)
    for i, g in enumerate(groups):
        files = min(2 * bench.cores, -(-len(g.docs) // DOCS_PER_FILE))
        g.path = os.path.join(base, f"g{i}", "all")
        _write_table(g.docs, g.path, files)
        if workload == "full_corpus_commit":
            g.first_path = os.path.join(base, f"g{i}", "first")
            _write_table(g.docs[:len(g.docs) // 2], g.first_path, files)
    warm = [Group(g.flavor, g.kwargs, g.families) for g in groups]
    for i, (g, w) in enumerate(zip(groups, warm)):
        # warm-up table: one doc per family of the group
        for fam in g.families:
            b = fx.builder_for(f"warm-{fam}", families=[fam], skew_frac=0.0)
            w.docs.append((b.doc_id, _document_spans(b)))
        w.path = os.path.join(base, f"g{i}", "warm")
        _write_table(w.docs, w.path, 1)
    return {"groups": groups, "warm": warm, "rows": n_docs,
            "sha256": digest.hexdigest()}


def _extract_all(spark, groups: list[Group]):
    from camelot_spark import pipeline

    return reduce(lambda a, b: a.unionByName(b), [
        pipeline.extract(spark.read.parquet(g.path), flavor=g.flavor,
                         fail_fast=False, **g.kwargs) for g in groups])


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _commit_job(spark, groups: list[Group], out: str) -> dict:
    """First commit over each group's first half, then a resume pass
    over each group's whole table."""
    from camelot_spark import pipeline

    shutil.rmtree(out, ignore_errors=True)
    first, second = [], []
    for g in groups:
        m = pipeline.run_extraction(spark, spark.read.parquet(g.first_path), out,
                                    flavor=g.flavor, fail_fast=False, **g.kwargs)
        first.append(int(m["docs"]))
    for g in groups:
        m = pipeline.run_extraction(spark, spark.read.parquet(g.path), out,
                                    flavor=g.flavor, fail_fast=False, **g.kwargs)
        second.append(int(m["docs"]))
    return {"first": first, "second": second}


def _check_rows(rows, groups: list[Group]) -> tuple[int, set, list[str]]:
    """(docs attempted, failed doc ids, failure notes) for collected
    (doc_id, spans, error) rows against every group's expected spans."""
    expected = {}
    for g in groups:
        expected.update(g.expected)
    seen: dict[str, int] = {}
    failed, notes = set(), []
    for r in rows:
        seen[r["doc_id"]] = seen.get(r["doc_id"], 0) + 1
        got = [tuple(s) for s in r["spans"]]
        if r["error"] is not None or got != expected.get(r["doc_id"]):
            failed.add(r["doc_id"])
            notes.append(f"{r['doc_id']}: " + ("error" if r["error"] else "spans differ"))
    for doc_id in expected:
        if seen.get(doc_id, 0) != 1:
            failed.add(doc_id)
            notes.append(f"{doc_id}: seen {seen.get(doc_id, 0)} times")
    return len(expected), failed, notes[:5]


def _collect(df):
    from pyspark.sql import functions as F

    return df.select("doc_id", "spans", F.col("lineage.error").alias("error")).collect()


def run(bench: harness.Bench, workload: str, seed: int, seconds: float,
        trace: bool, n_docs: int | None) -> dict:
    t0 = time.perf_counter()
    inp = generate(bench, workload, seed, n_docs or DOCS[workload])
    gen_s = time.perf_counter() - t0
    groups, warm = inp["groups"], inp["warm"]
    print(json.dumps({"input": {"workload": workload, "rows": inp["rows"],
                                "sha256": inp["sha256"], "gen_s": gen_s}}),
          flush=True)
    commit = workload == "full_corpus_commit"

    def warm_job(spark):
        _noop(_extract_all(spark, warm))

    setups = bench.setup(warm_job, event_log=trace)
    spark = bench.spark
    sc = spark.sparkContext
    detail = {"gen_s": gen_s, "setup_walls_s": setups,
              "input_partitions": sum(
                  spark.read.parquet(g.path).rdd.getNumPartitions() for g in groups),
              "groups": len(groups)}
    out_dir = bench.path("out", "commit")
    job_no = [0]
    last = {}

    def job(desc="perfbench:timed"):
        sc.setJobDescription(desc)
        if commit:
            job_no[0] += 1
            last.update(_commit_job(spark, groups, f"{out_dir}-{job_no[0]}"))
        else:
            _noop(_extract_all(spark, groups))
        sc.setJobDescription(None)

    t = time.perf_counter()
    job("warm pass")        # the set-up's JVM has run only the warm-up job
    detail["warm_pass_s"] = time.perf_counter() - t
    with harness.RssSampler(bench.jvm_pid()) as rss:
        walls = harness.closed_loop(job, seconds)
    n = inp["rows"]
    rates = [n / w for w in walls]
    detail.update(job_walls_s=walls, workers_peak_rss_mb=rss.peak_workers / 2**20,
                  jvm_peak_rss_mb=rss.peak_jvm / 2**20)

    t_check = time.perf_counter()
    # correctness, outside the timed region
    if commit:
        from camelot_spark.snapshots import SnapshotLog

        final = f"{out_dir}-{job_no[0]}"
        attempted, failed, notes = _check_rows(
            _collect(SnapshotLog(final).read(spark)), groups)
        hist = SnapshotLog(final).history()
        m_docs = sum(int(h["metrics"]["docs"]) for h in hist)
        m_err = sum(int(h["metrics"]["errors"] or 0) for h in hist)
        committed = sum(last["first"])
        skipped = sum(len(g.docs) for g in groups) - sum(last["second"])
        resume_ok = (skipped == committed == sum(len(g.docs) // 2 for g in groups))
        if m_docs != n or m_err != 0 or not resume_ok:
            failed.add("manifest")
            notes.append(f"manifest docs={m_docs} errors={m_err} "
                         f"skipped={skipped} committed={committed}")
        detail.update(commits=len(hist), manifest_docs=m_docs,
                      manifest_errors=m_err, resume_skipped=skipped,
                      resume_committed=committed)
    else:
        attempted, failed, notes = _check_rows(_collect(_extract_all(spark, groups)), groups)
    detail["splittext_docs"] = sum(
        1 for g in groups for d in g.expected if d.startswith("splittext-"))
    detail["splittext_failed"] = sum(1 for d in failed if d.startswith("splittext-"))
    detail["check_notes"] = notes
    detail["check_s"] = time.perf_counter() - t_check
    failed = min(len(failed), attempted)

    result = {"attempted": attempted, "failed": failed, "detail": detail,
              "end_to_end": {
                  "docs_per_s": statistics.median(rates),
                  "setup_s": statistics.median(setups),
                  "peak_rss_mb": rss.peak_workers / 2**20,
                  "ok_frac": 1.0 - failed / attempted}}
    if trace:
        result["per_layer"] = _trace(bench, workload, groups, walls, last, job_no[0],
                                     out_dir)
    return result


# --- traced run -----------------------------------------------------------


def _batches(groups: list[Group]):
    """(group, [RecordBatch]) in the documents schema, sliced like the
    Arrow batches Spark hands to ``mapInArrow``."""
    import pyarrow.parquet as pq

    out = []
    for g in groups:
        t = pq.read_table(g.path)
        out.append((g, t.to_batches(max_chunksize=harness.ARROW_BATCH)))
    return out


def _replay(batches, tracer=None) -> tuple[float, list]:
    """Run the ``mapInArrow`` kernel over every batch in this process.
    Returns (wall seconds, output batches)."""
    from camelot_spark import make_config, pipeline

    outs = []
    t0 = time.perf_counter()
    for g, bs in batches:
        cfg = make_config(g.flavor, **g.kwargs)
        it = pipeline._extract_arrow_iter(iter(bs), cfg, False)
        while True:
            if tracer is not None:
                with tracer.span("pipeline.batch"):
                    ob = next(it, None)
            else:
                ob = next(it, None)
            if ob is None:
                break
            outs.append(ob)
    return time.perf_counter() - t0, outs


LAYER_FUNCS = [
    # (module, attributes, span name)
    ("camelot_spark.pipeline", ["_run_docs"], "pipeline.run_docs"),
    ("camelot_spark.pipeline", ["_results_to_arrow"], "pipeline.encode"),
    ("camelot_spark.pipeline", ["extract_document"], "extract_doc"),
    ("camelot_spark.extract_doc", ["parse_page"], "page.parse"),
    ("camelot_spark.extract_doc", ["assemble_spans"], "assemble"),
    ("camelot_spark.kernels.textedges",
     ["generate_textedges", "relevant_align", "table_areas"], "textedges"),
    ("camelot_spark.kernels.rows", ["group_rows_indices", "join_rows"], "rows"),
    ("camelot_spark.kernels.cols",
     ["mode_ncols", "merge_columns", "add_columns", "join_columns",
      "infer_columns"], "cols"),
    ("camelot_spark.kernels.lines",
     ["merge_close_lines", "segment_joints", "segment_tables",
      "grid_intervals"], "lines"),
    ("camelot_spark.kernels.raster", ["decode_bitmap"], "raster.decode"),
    ("camelot_spark.kernels.raster", ["adaptive_threshold"], "raster.threshold"),
    ("camelot_spark.kernels.raster", ["find_lines"], "raster.lines"),
    ("camelot_spark.kernels.raster", ["find_contours"], "raster.contours"),
    ("camelot_spark.kernels.raster", ["find_joints"], "raster.joints"),
    ("camelot_spark.parsers.stream", ["assign_text"], "assign"),
    ("camelot_spark.parsers.lattice", ["assign_text", "copy_spanning_text"],
     "assign"),
]


def install_layer_spans(tracer: harness.Tracer) -> None:
    import importlib

    from camelot_spark import pipeline

    for mod, attrs, name in LAYER_FUNCS:
        m = importlib.import_module(mod)
        for a in attrs:
            tracer.wrap(m, a, name)
    run_docs = pipeline._run_docs
    # spans carry the doc_id of the doc being extracted
    tracer.patch(pipeline, "_run_docs", lambda docs, cfg, fail_fast: run_docs(
        tracer.tagged(docs), cfg, fail_fast))


def _trace(bench, workload, groups, walls, last, job_no, out_dir) -> dict:
    import numpy as np

    spark = bench.spark
    n = sum(len(g.docs) for g in groups)
    pl: dict[str, float] = {}
    if workload == "full_corpus_commit":
        # the same docs through noop extract(): the commit job's extra
        # wall is the snapshot write + resume cost
        noop = harness.closed_loop(lambda: _noop(_extract_all(spark, groups)),
                                   0, min_jobs=2)
        spark_wall = statistics.median(noop)
        pl["snapshots.write_overhead_ratio"] = statistics.median(walls) / spark_wall
        final = f"{out_dir}-{job_no}"
        files = [os.path.join(d, f) for d, _, fs in os.walk(final) for f in fs]
        pl["snapshots.write_bytes"] = float(sum(os.path.getsize(f) for f in files))
        pl["snapshots.files"] = float(len(files))
        pl["snapshots.resume_skipped_frac"] = (
            (n - sum(last["second"])) / sum(last["first"]))
    else:
        spark_wall = statistics.median(walls)
    bench.spark.stop()
    ev = harness.read_event_log(bench.path("eventlog"), "perfbench:")
    bench.spark = None

    batches = _batches(groups)
    _replay(batches)                       # warm the in-process caches
    # untraced and traced replays alternate, so drift of the host's
    # speed does not land on one side of the overhead ratio
    untraced, traced = [], []
    for _ in range(TRACE_REPLAYS):
        wall, outs = _replay(batches)
        untraced.append(wall)
        tracer = harness.Tracer()
        install_layer_spans(tracer)
        try:
            traced.append(_replay(batches, tracer)[0])
        finally:
            tracer.restore()
    untraced_wall = statistics.median(untraced)
    traced_wall = statistics.median(traced)
    tracer.dump(bench.path("out", f"spans-{workload}.json"))
    self_ns = tracer.self_times_ns()

    def us(name):
        # None for a layer this workload never called: run.py lists it
        # as not applicable
        return self_ns[name] / 1e3 / n if name in self_ns else None

    # per-doc kernel time from the program's own lineage timer
    elapsed = np.concatenate([b.column("lineage").field("elapsed_us")
                              .to_numpy(zero_copy_only=False) for b in outs])
    ids = [d for b in outs for d in b.column("doc_id").to_pylist()]
    imax = int(np.argmax(elapsed))
    pl.update({
        "pipeline.decode_us_per_doc": us("pipeline.batch"),
        "pipeline.encode_us_per_doc": us("pipeline.encode"),
        "pipeline.remainder_frac": 1.0 - untraced_wall / (bench.cores * spark_wall),
        "pipeline.task_straggler_ratio": ev["task_straggler_ratio"],
        "pipeline.gc_frac": ev["gc_frac"],
        "page.parse_us_per_doc": us("page.parse"),
        "textedges.us_per_doc": us("textedges"),
        "rows.us_per_doc": us("rows"),
        "cols.us_per_doc": us("cols"),
        "lines.us_per_doc": us("lines"),
        "raster.decode_us_per_doc": us("raster.decode"),
        "raster.threshold_us_per_doc": us("raster.threshold"),
        "raster.lines_us_per_doc": us("raster.lines"),
        "raster.contours_us_per_doc": us("raster.contours"),
        "raster.joints_us_per_doc": us("raster.joints"),
        "assign.us_per_doc": us("assign"),
        "assemble.us_per_doc": us("assemble"),
        "extract_doc.doc_us_p50": float(np.percentile(elapsed, 50)),
        "extract_doc.doc_us_p99": float(np.percentile(elapsed, 99)),
        "extract_doc.doc_us_max": float(elapsed[imax]),
        "trace.overhead_ratio": traced_wall / untraced_wall,
    })
    pl = {k: v for k, v in pl.items() if v is not None}
    print(json.dumps({"trace_detail": {
        "max_doc": ids[imax], "max_doc_family": ids[imax].split("-")[0],
        "untraced_replay_docs_per_s": n / untraced_wall,
        "traced_replay_docs_per_s": n / traced_wall,
        "spark_docs_per_s": n / spark_wall,
        "kernel_self_us_per_doc": us("extract_doc"),
        "run_docs_self_us_per_doc": us("pipeline.run_docs"),
        "spark_tasks": ev["tasks"]}}), flush=True)
    return pl
