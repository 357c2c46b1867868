"""Document workloads: the composed curation pipeline (``curate``) and
the incremental MinHash-LSH stream (``dedup_stream``), both over a
generated corpus whose content is fixed; the seed picks arrival order
and file split."""

from __future__ import annotations

import hashlib
import json
import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from mklab_focused_crawler_spark.operators.decontam import decontaminate
from mklab_focused_crawler_spark.operators.dedup import (
    augment_corpus,
    band_rows,
    lsh_pairs,
    minhash_signatures,
    near_dup_filter,
)
from mklab_focused_crawler_spark.operators.lines import line_dedup
from mklab_focused_crawler_spark.operators.packing import sequence_pack
from mklab_focused_crawler_spark.operators.pii import pii_redact
from mklab_focused_crawler_spark.operators.pipeline import (
    pipeline_augment,
    pipeline_e2e,
    pipeline_e2e_sql,
)
from mklab_focused_crawler_spark.operators.quality import doc_quality_signals
from mklab_focused_crawler_spark.operators.sampling import (
    dataset_mix,
    domain_quota,
    shard_shuffle,
)
from mklab_focused_crawler_spark.operators.substr_dedup import substring_dedup
from mklab_focused_crawler_spark.streaming.dedup import (
    read_streaming_lsh_pairs,
    run_streaming_lsh_dedup,
)

from worker import median, now

CURATE_DOCS = 1_000
CURATE_FILES = 4
STREAM_DOCS = 150  # before augment_corpus adds its exact and near copies
STREAM_FAMILIES = 30  # near-duplicate families the stream docs are drawn from
STREAM_FILE_DOCS = (6, 10)  # docs per micro-batch file, drawn per file
STREAM_FILES_PER_ROUND = 2

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = (["en"] * 4) + ["zh", "es", "fr", "de"]
_CORPUS_SEED = 20240101
_CHUNK_COLS = ["shard_id", "chunk_id", "pos", "doc_id", "source", "piece_start", "piece_len"]


def generate_corpus(n_docs: int) -> pd.DataFrame:
    """(doc_id, text, lang, source, n_chars): 10-100 words per doc from
    a 30-word vocabulary, 20 sources. Content does not depend on the
    workload seed."""
    rng = np.random.RandomState(_CORPUS_SEED)
    texts = [
        " ".join(rng.choice(_WORDS, size=rng.randint(10, 101)))
        for _ in range(n_docs)
    ]
    return pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.randint(0, len(_LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def near_dup_corpus(n_docs: int, n_families: int) -> pd.DataFrame:
    """(doc_id, text, source): doc i is family ``i % n_families`` with one
    word replaced, so micro-batches find pairs against the committed
    index. Content does not depend on the workload seed."""
    rng = np.random.RandomState(_CORPUS_SEED + 1)
    fams = generate_corpus(n_families)["text"].str.split().tolist()
    texts = []
    for i in range(n_docs):
        words = list(fams[i % n_families])
        words[rng.randint(len(words))] = rng.choice(_WORDS)
        texts.append(" ".join(words))
    return pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "source": [f"src{i % 20}" for i in range(n_docs)],
    })


def _write_split(pdf: pd.DataFrame, out_dir: str, sizes: list[int]) -> list[str]:
    """Write ``pdf`` in order as consecutive files of ``sizes`` rows with
    increasing mtimes (the file stream's arrival order)."""
    os.makedirs(out_dir, exist_ok=True)
    paths, start = [], 0
    for i, n in enumerate(sizes):
        p = os.path.join(out_dir, f"part-{i:04d}.parquet")
        pq.write_table(
            pa.Table.from_pandas(pdf.iloc[start:start + n], preserve_index=False), p
        )
        os.utime(p, (1_000_000_000 + i, 1_000_000_000 + i))
        paths.append(p)
        start += n
    return paths


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _dedup_kernels(run, corpus) -> None:
    """dedup.minhash_s and dedup.candidates_per_pair over ``corpus``."""
    t = now()
    _noop(minhash_signatures(corpus))
    run.layer["dedup.minhash_s"] = now() - t
    bands = band_rows(minhash_signatures(corpus)).persist()
    a, b = bands.alias("a"), bands.alias("b")
    n_cand = (
        a.join(b, ["band_idx", "band_key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select("a.doc_id", "b.doc_id").distinct().count()
    )
    bands.unpersist()
    n_pairs = lsh_pairs(corpus).count()
    run.layer["dedup.candidates_per_pair"] = n_cand / max(n_pairs, 1)


# ---------------------------------------------------------------- curate
def run_curate(run) -> None:
    spark = run.spark
    t0 = now()
    corpus = generate_corpus(CURATE_DOCS)
    rng = np.random.RandomState(run.seed)
    shuffled = corpus.iloc[rng.permutation(len(corpus))]
    cuts = np.sort(rng.choice(np.arange(1, len(corpus)), CURATE_FILES - 1, replace=False))
    sizes = np.diff(np.concatenate([[0], cuts, [len(corpus)]])).tolist()
    in_dir = os.path.join(run.dir("inputs"), "documents")
    _write_split(shuffled, in_dir, sizes)
    run.setup_s = run.layer["inputs.stage_s"] = now() - t0

    outputs = []
    t_window = time.perf_counter()  # run length: wall clock
    run.window_ms = (time.time() * 1e3, 0.0)
    while not run.steps or time.perf_counter() - t_window < run.seconds:
        i = len(run.steps)
        run.attempted += 1
        out_dir = os.path.join(run.dir("out"), f"chunks-{i}")
        caches: list = []
        t = now()
        docs = spark.read.parquet(in_dir)
        chunks = pipeline_e2e(spark, docs, caches=caches, workdir=run.dir("stages", str(i)))
        chunks.write.mode("overwrite").parquet(out_dir)
        run.steps.append(now() - t)
        for c in caches:
            c.unpersist()
        run.units += len(corpus)
        outputs.append(out_dir)
        run.note(f"pipeline run {i}: {run.steps[-1]:.3f} s")
    run.window_ms = (run.window_ms[0], time.time() * 1e3)

    if run.trace:
        _curate_stage_times(run, spark.read.parquet(in_dir))
    _check_curate(run, corpus, outputs)


def _curate_stage_times(run, docs) -> None:
    """Each pipeline stage's public function timed on its materialized
    input, wired as pipeline_e2e wires them."""
    spark = run.spark
    base = run.dir("trace_stages")

    def table(name, df):
        path = os.path.join(base, name)
        t = now()
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path), now() - t

    def stage(name, df):
        out, dt = table(name, df)
        run.layer[f"pipeline.{name}_s"] = dt
        return out

    aug, _ = table("aug", pipeline_augment(docs))
    prov = aug.select("doc_id", "source")
    text = F.col("clean_text").alias("text")
    c1 = stage("line_dedup", line_dedup(aug).select("doc_id", text))
    c2 = stage("substring_dedup", substring_dedup(c1).select("doc_id", text))
    qg = stage("quality", doc_quality_signals(c2).filter("quality_pass").select("doc_id"))
    c3, _ = table("c3", c2.join(qg, "doc_id"))
    dc = stage("decontaminate", decontaminate(c3).filter(~F.col("contaminated")).select("doc_id"))
    c4, _ = table("c4", c3.join(dc, "doc_id"))
    clean = stage("pii_redact", pii_redact(c4).select("doc_id", text))
    nd = stage("near_dup_filter", near_dup_filter(spark, clean).filter("kept").select("doc_id"))
    c6, _ = table("c6", clean.join(nd, "doc_id").join(prov, "doc_id"))
    qt = stage("domain_quota", domain_quota(c6).filter("kept").select("doc_id"))
    c7, _ = table("c7", c6.join(qt, "doc_id"))
    mx = stage("dataset_mix", dataset_mix(c7).select("doc_id"))
    c8, _ = table("c8", c7.join(mx, "doc_id"))
    sh = stage("shard_shuffle", shard_shuffle(c8))
    pk_in, _ = table("pk_in", sh.join(c8, "doc_id").select(
        F.col("pos").alias("doc_id"),
        F.col("shard_id").cast("string").alias("source"),
        "text",
    ))
    stage("sequence_pack", sequence_pack(pk_in))
    run.layer["pipeline.keep_frac"] = c8.count() / aug.count()
    _dedup_kernels(run, clean)


def _twin_chunk_map(run, corpus: pd.DataFrame) -> list[tuple]:
    """The DuckDB twin's chunk map over ``corpus`` in its unpermuted
    order, sorted. It depends only on the SQL, the corpus and DuckDB, so
    it is computed once per checkout and kept under those three's hash
    next to the runs' scratch directories."""
    import duckdb

    sql = pipeline_e2e_sql()
    key = hashlib.sha256(sql.encode() + duckdb.__version__.encode())
    key.update(pd.util.hash_pandas_object(corpus).values.tobytes())
    path = os.path.join(
        os.path.dirname(run.workdir), "cache", f"twin-chunks-{key.hexdigest()[:16]}.json"
    )
    if os.path.exists(path):
        with open(path) as f:
            return [tuple(r) for r in json.load(f)]
    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        con.register("documents", corpus)
        rows = sorted(map(tuple, con.execute(sql).df()[_CHUNK_COLS].values.tolist()))
    finally:
        con.close()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(rows, f)
    os.replace(tmp, path)
    return rows


def _check_curate(run, corpus: pd.DataFrame, outputs: list[str]) -> None:
    """Every run's chunk map equals the DuckDB twin over the corpus in
    its unpermuted order, so it does not depend on the seed's order."""
    want = _twin_chunk_map(run, corpus)
    for i, path in enumerate(outputs):
        got = sorted(
            tuple(r) for r in run.spark.read.parquet(path).select(*_CHUNK_COLS).collect()
        )
        run.check(
            f"chunk_map_equals_duckdb_twin[{i}]", got == want and len(want) > 0,
            f"({len(got)} chunk pieces vs {len(want)})",
        )


# ---------------------------------------------------------- dedup_stream
def run_dedup_stream(run) -> None:
    from sparktrace import batch_listener

    spark = run.spark
    t0 = now()
    base = spark.createDataFrame(near_dup_corpus(STREAM_DOCS, STREAM_FAMILIES))
    corpus = augment_corpus(base).toPandas()
    rng = np.random.RandomState(run.seed)
    corpus = corpus.iloc[rng.permutation(len(corpus))].reset_index(drop=True)
    sizes, left = [], len(corpus)
    while left > 0:
        sizes.append(min(left, int(rng.randint(STREAM_FILE_DOCS[0], STREAM_FILE_DOCS[1] + 1))))
        left -= sizes[-1]
    staged = _write_split(corpus, run.dir("backlog"), sizes)
    in_dir, store, ckpt = run.dir("in"), os.path.join(run.workdir, "store"), run.dir("ckpt")
    progress = batch_listener(spark)
    run.setup_s = run.layer["inputs.stage_s"] = now() - t0

    usage = [_partition_usage(store)]
    n_files = n_docs = 0
    drain_s = 0.0
    run.window_ms = (time.time() * 1e3, 0.0)
    t_window = time.perf_counter()  # run length: wall clock
    while n_files < len(staged) and (
        n_files == 0 or time.perf_counter() - t_window < run.seconds
    ):
        for p in staged[n_files:n_files + STREAM_FILES_PER_ROUND]:
            os.rename(p, os.path.join(in_dir, os.path.basename(p)))
            n_docs += sizes[n_files]
            n_files += 1
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        t = now()
        run_streaming_lsh_dedup(stream, store, ckpt)
        drain_s += now() - t
        _await_progress(progress, n_files)
        usage.append(_partition_usage(store))
    run.window_ms = (run.window_ms[0], time.time() * 1e3)
    run.attempted += n_files
    run.failed += n_files - len(progress)
    run.units = n_docs
    run.steps = [p["triggerExecution"] / 1e3 for p in progress]
    run.window_s = drain_s
    run.note(
        f"{n_files} micro-batches, {n_docs} docs, drain {drain_s:.3f} s, batch s: "
        + " ".join(f"{s:.2f}" for s in run.steps)
    )

    ingested = spark.read.parquet(in_dir)
    if run.trace:
        _stream_layers(run, progress, usage, store, ingested)
    got = {(r["doc_a"], r["doc_b"], r["jaccard"]) for r in read_streaming_lsh_pairs(spark, store).collect()}
    want = {(r["doc_a"], r["doc_b"], r["jaccard"]) for r in lsh_pairs(ingested).collect()}
    run.check(
        "stream_pairs_equal_batch_lsh", got == want,
        f"({len(got)} streamed pairs vs {len(want)} batch pairs)",
    )


def _await_progress(progress: list, n: int, timeout_s: float = 30.0) -> None:
    """Listener events arrive asynchronously after the query ends."""
    deadline = time.monotonic() + timeout_s
    while len(progress) < n and time.monotonic() < deadline:
        time.sleep(0.05)


def _partition_usage(store: str) -> tuple[int, int]:
    files = parts = 0
    for d, subdirs, names in os.walk(store):
        files += len(names)
        parts += sum("=" in s for s in subdirs)
    return files, parts


def _stream_layers(run, progress: list, usage: list, store: str, ingested) -> None:
    run.layer["stream.add_batch_ms_p50"] = median([p.get("addBatch", 0) for p in progress])
    run.layer["stream.planning_ms_p50"] = median([p.get("queryPlanning", 0) for p in progress])
    if run.steps:
        q = max(1, len(run.steps) // 4)
        run.layer["stream.batch_growth"] = median(run.steps[-q:]) / median(run.steps[:q])
    with open(os.path.join(store, "lsh_meta.json")) as f:
        run.layer["stream.key_buckets"] = json.load(f)["key_buckets"]
    run.layer["stream.pairs"] = read_streaming_lsh_pairs(run.spark, store).count()
    n_batches = max(len(progress), 1)
    run.layer["snapshot.files_per_batch"] = (usage[-1][0] - usage[0][0]) / n_batches
    run.layer["snapshot.partitions_per_batch"] = (usage[-1][1] - usage[0][1]) / n_batches
    _dedup_kernels(run, ingested)


BODIES = {"curate": run_curate, "dedup_stream": run_dedup_stream}
