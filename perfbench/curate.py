"""The ``curate`` workload: the ``jobs/curate_job.apply_steps`` chain
``quality,dedup_exact,dedup_near,strip_substr,boilerplate,ppl_mix``
over a seeded text corpus with the shape of ``documents.parquet``
(doc_id, text, lang, source), into a noop sink.

It is the only workload that runs the training-data operators in
``camelot_spark/tdp``: MinHash-LSH and connected components, duplicate
substring spans, boilerplate strip and the bigram-LM perplexity mix.

Each step's survivors are checked against that step's DuckDB SQL twin
(the ``*_SQL`` constants behind ``__spark_entry__.oracle_sql()``)
applied to the step's input, with two exceptions. ``dedup_near`` runs
the xxhash64 production hash family, which DuckDB cannot compute; its
twin is the same recomputation from ``tdp.pyhash`` that generates the
``minhash_lsh_pairs`` / ``dedup_groups`` expected-values oracles.
``strip_substr`` is checked by a transcription of its SQL twin (see
``strip_substr_oracle``).
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import math
import os
import shutil
import statistics
import time
import types

import harness

DOCS = 1000
WARM_DOCS = 64
STEPS = ["quality", "dedup_exact", "dedup_near", "strip_substr",
         "boilerplate", "ppl_mix"]
MIN_QUALITY = 300
NEAR_THRESHOLD = 7000
# the boilerplate SQL twin is fixed at 120000 ppm (the registry query's
# setting); the step runs at the same ratio so the twin applies
BOILERPLATE_PPM = 120_000


def step_args(steps: str):
    return types.SimpleNamespace(
        steps=steps, min_quality=MIN_QUALITY, substr_k=40,
        cc_algorithm="star", near_threshold=NEAR_THRESHOLD,
        boilerplate_ratio_ppm=BOILERPLATE_PPM,
        ppl_rates="1000000,500000,100000")


def _load(root: str, rel: str, name: str):
    spec = importlib.util.spec_from_file_location(name, os.path.join(root, rel))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def corpus(root: str, seed: int, n: int):
    """``tools/gen_benchdata.gen_documents`` (5 langs, 20 sources, 8-100
    tokens over a 31-word vocabulary, 0.2% exact copies) plus the
    near-duplicates of the sf0.1 ``documents`` table that ``bench.py``
    reads, which that generator does not make: there, 240 of 5,000 docs
    (4.8%) are an earlier doc with one token appended (127) or its last
    token dropped (113), and ``dedup_near`` removes exactly those.
    Nothing else is planted: on that table the ``boilerplate`` twin
    strips nothing and ``strip_substr`` changes 2 docs."""
    import numpy as np

    gen = _load(root, "tools/gen_benchdata.py", "gen_benchdata")
    rng = np.random.RandomState(seed)
    df = gen.gen_documents(n, rng)
    texts = list(df["text"])
    for i in sorted(rng.choice(np.arange(1, n), size=n * 48 // 1000,
                               replace=False)):
        toks = texts[rng.randint(i)].split(" ")
        if rng.randint(2):
            toks.append(gen.VOCAB[rng.randint(len(gen.VOCAB))])
        else:
            toks.pop()
        texts[i] = " ".join(toks)
    df["text"] = texts
    return df[["doc_id", "text", "lang", "source"]]


def _digest(df) -> str:
    h = hashlib.sha256()
    for row in df.itertuples(index=False):
        h.update(json.dumps(list(row), default=int).encode())
    return h.hexdigest()


def _write(df, path: str, n_files: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    per = -(-len(df) // n_files)
    for i in range(n_files):
        part = df.iloc[i * per:(i + 1) * per]
        if len(part):
            pq.write_table(pa.Table.from_pandas(part, preserve_index=False),
                           os.path.join(path, f"part-{i:03d}.parquet"))


# --- oracles ----------------------------------------------------------------


def near_dup_oracle(inp, threshold: int = NEAR_THRESHOLD, num_hashes: int = 32,
                    bands: int = 8) -> tuple[set, int, int]:
    """Twin of the ``dedup_near`` step: production MinHash (xxhash64 of
    each word 3-gram, seeded per k) -> 8x4 LSH buckets -> exact shingle
    Jaccard >= threshold -> components -> drop every non-minimum member.
    Returns (dropped doc_ids, candidate pairs, verified pairs)."""
    from camelot_spark.tdp.pyhash import to_signed, xxh64_bytes, xxh64_int

    ids = [int(d) for d in inp["doc_id"]]
    sh = {}
    for d, t in zip(ids, inp["text"]):
        toks = t.split(" ")
        sh[d] = {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
    rows = num_hashes // bands
    buckets: dict[tuple, list[int]] = {}
    for d in ids:
        base = [xxh64_bytes(g.encode("utf-8"), 42) for g in sh[d]]
        sig = [min(to_signed(xxh64_int(k, b)) for b in base) if base else None
               for k in range(num_hashes)]
        for b in range(bands):
            buckets.setdefault((b, tuple(sig[b * rows:(b + 1) * rows])),
                               []).append(d)
    cand = set()
    for members in buckets.values():
        members.sort()
        for i, a in enumerate(members):
            for b in members[i + 1:]:
                cand.add((a, b))
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    verified = 0
    for a, b in cand:
        union = len(sh[a] | sh[b])
        if union and math.floor(len(sh[a] & sh[b]) / union * 10000) >= threshold:
            verified += 1
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
    dropped = {x for x in parent if find(x) != x}
    return dropped, len(cand), verified


def strip_substr_oracle(inp, k: int = 40) -> dict:
    """doc_id -> clean text, per ``substr_dedup.STRIP_DUP_SUBSTR_SQL``:
    every k-char window whose global first occurrence (min doc_id, then
    min pos) lies elsewhere is duplicated; overlapping or adjacent
    duplicated windows merge into regions, which are cut out. The SQL
    itself is not run here: its ``LATERAL unnest(range(...))`` window
    explode needs ~8 GB in DuckDB 1.0 at 1,000 docs."""
    docs = sorted(zip((int(d) for d in inp["doc_id"]), inp["text"]))
    first: dict[str, tuple[int, int]] = {}
    for d, t in docs:
        for p in range(len(t) - k + 1):
            first.setdefault(t[p:p + k], (d, p))
    out = {}
    for d, t in docs:
        regions: list[list[int]] = []
        for p in range(len(t) - k + 1):
            if first[t[p:p + k]] == (d, p):
                continue
            if regions and p <= regions[-1][1]:
                regions[-1][1] = p + k
            else:
                regions.append([p, p + k])
        keep, at = [], 0
        for s, e in regions:
            keep.append(t[at:s])
            at = e
        keep.append(t[at:])
        out[d] = "".join(keep)
    return out


def expected_survivors(step: str, inp, con):
    """The step's output rows per its SQL twin over the step input."""
    from camelot_spark.tdp import dedup, sampling, text

    def twin(sql, df):
        con.register("documents", df)
        try:
            return con.execute(sql).df()
        finally:
            con.unregister("documents")

    if step == "quality":
        q = twin(text.QUALITY_SQL, inp)
        return inp[inp.doc_id.isin(q.doc_id[q.quality_x100 >= MIN_QUALITY])]
    if step == "dedup_exact":
        return inp[inp.doc_id.isin(twin(dedup.DEDUP_KEEP_FIRST_SQL, inp).keep_id)]
    if step == "dedup_near":
        dropped, _, _ = near_dup_oracle(inp)
        return inp[~inp.doc_id.isin(dropped)]
    if step == "ppl_mix":
        r = twin(sampling.PERPLEXITY_BUCKET_MIX_SQL, inp)
        return inp[~inp.doc_id.isin(r.doc_id[r.kept == 0])]
    if step == "strip_substr":
        clean = strip_substr_oracle(inp)
    else:
        r = twin(text.BOILERPLATE_STRIP_SQL, inp)
        clean = dict(zip(r.doc_id, r.clean_text))
    out = inp[inp.doc_id.isin(clean)].copy()
    out["text"] = [clean[d] for d in out.doc_id]
    return out


def _rows(df) -> list[tuple]:
    return sorted((int(r.doc_id), r.text, r.lang, r.source)
                  for r in df.itertuples(index=False))


# --- the workload -------------------------------------------------------------


def run(bench: harness.Bench, seed: int, seconds: float, trace: bool,
        n_docs: int | None) -> dict:
    import duckdb
    import pandas as pd

    import curate_job

    t0 = time.perf_counter()
    df = corpus(bench.root, seed, n_docs or DOCS)
    path = bench.path("data", "curate", "docs")
    _write(df, path, 2 * bench.cores)
    warm_path = bench.path("data", "curate", "warm")
    _write(corpus(bench.root, seed, WARM_DOCS), warm_path, bench.cores)
    gen_s = time.perf_counter() - t0
    print(json.dumps({"input": {"workload": "curate", "rows": len(df),
                                "sha256": _digest(df), "gen_s": gen_s}}), flush=True)

    def warm_job(spark):
        out, _ = curate_job.apply_steps(
            spark, spark.read.parquet(warm_path), step_args("quality,dedup_exact"))
        out.write.format("noop").mode("overwrite").save()

    setups = bench.setup(warm_job, event_log=trace)
    spark = bench.spark
    sc = spark.sparkContext
    cols = ["doc_id", "text", "lang", "source"]

    chain = step_args(",".join(STEPS))
    last_report = []

    def job():
        out, report = curate_job.apply_steps(spark, spark.read.parquet(path), chain)
        out.write.format("noop").mode("overwrite").save()
        last_report[:] = report

    t = time.perf_counter()
    job()                                   # warm pass 1
    warm1 = time.perf_counter() - t

    # warm pass 2, and the per-step record the check needs: each step
    # on its own over the previous step's survivors
    step_out, step_s = [], {}
    cur = spark.read.parquet(path)
    for step in STEPS:
        sc.setJobDescription(f"perfbench:curate.{step}")
        t = time.perf_counter()
        cur, _ = curate_job.apply_steps(spark, cur, step_args(step))
        step_s[step] = time.perf_counter() - t
        step_out.append(cur.select(*cols).toPandas())
    sc.setJobDescription(None)

    with harness.RssSampler(bench.jvm_pid()) as rss:
        walls = harness.closed_loop(job, seconds)

    t_check = time.perf_counter()
    # correctness, outside the timed region: every step against its twin,
    # and the chained run against the step-by-step run
    con = duckdb.connect()
    inputs = [df] + step_out[:-1]
    failed, notes = 0, []
    for step, inp, got in zip(STEPS, inputs, step_out):
        inp = inp.reset_index(drop=True)
        if _rows(expected_survivors(step, inp, con)) != _rows(got):
            failed += 1
            notes.append(f"{step}: survivors differ from the SQL twin")
    con.close()
    chain_docs = [r["docs"] for r in last_report[1:]]
    if chain_docs != [len(s) for s in step_out]:
        failed += 1
        notes.append(f"chain step counts {chain_docs} differ from the "
                     f"step-by-step run {[len(s) for s in step_out]}")

    n = len(df)
    check_s = time.perf_counter() - t_check
    result = {
        "attempted": len(STEPS), "failed": min(failed, len(STEPS)),
        "detail": {"gen_s": gen_s, "setup_walls_s": setups,
                   "warm_pass_s": [warm1, sum(step_s.values())],
                   "job_walls_s": walls, "check_s": check_s, "step_docs": chain_docs,
                   "input_partitions": spark.read.parquet(path).rdd.getNumPartitions(),
                   "workers_peak_rss_mb": rss.peak_workers / 2**20,
                   "jvm_peak_rss_mb": rss.peak_jvm / 2**20,
                   "check_notes": notes},
        "end_to_end": {
            "docs_per_s": statistics.median(n / w for w in walls),
            "setup_s": statistics.median(setups),
            # the chain runs its operators in the JVM, not in Python workers
            "peak_rss_mb": rss.peak_total / 2**20,
            "ok_frac": 1.0 - min(failed, len(STEPS)) / len(STEPS)},
    }
    if trace:
        from camelot_spark.tdp import dedup

        near_in = spark.createDataFrame(pd.DataFrame(inputs[STEPS.index("dedup_near")]))
        cand = dedup.minhash_lsh_pairs(near_in).count()
        ver = dedup.minhash_neardup_verified(
            near_in, threshold_x10k=NEAR_THRESHOLD).count()
        spark.stop()
        bench.spark = None
        ev = harness.read_event_log(bench.path("eventlog"), "perfbench:curate.")
        pl = {"pipeline.task_straggler_ratio": ev["task_straggler_ratio"],
              "pipeline.gc_frac": ev["gc_frac"],
              "curate.stages": float(sum(ev["stages_by_desc"].values())),
              "dedup.verified_over_candidates": ver / cand if cand else 0.0}
        for step in STEPS:
            pl[f"curate.{step}_s"] = step_s[step]
            pl[f"curate.{step}_shuffle_mb"] = ev["shuffle_bytes_by_desc"].get(
                f"perfbench:curate.{step}", 0) / 2**20
        _, o_cand, o_ver = near_dup_oracle(inputs[STEPS.index("dedup_near")])
        print(json.dumps({"trace_detail": {
            "lsh_candidates": cand, "verified_pairs": ver,
            "oracle_lsh_candidates": o_cand, "oracle_verified_pairs": o_ver,
            "spark_tasks": ev["tasks"]}}), flush=True)
        result["per_layer"] = pl
    return result
