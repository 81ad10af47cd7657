"""N-vs-4N scaling probes (BASELINE.md §method: the same job on the same
on-disk corpus at N and 4N cores; efficiency = T_N / (4 · T_4N)).

Usage: python scripts/scaling.py <probe> [replicas]

One harness runs every probe:

* The (N, 4N) pairs are derived from the CPUs this process may use:
  (2, 8) and (8, 32) where they fit, else (1, 4); fewer than 4 CPUs
  raises before anything is built. A leg never asks for more CPUs than
  the box has, so no efficiency is printed for a clamped run.
* The corpus is built once per (probe, replicas, sf dir) under
  ``$TMPDIR/sparktax_scaling/`` in a fresh process. It is reused only
  when its ``_BUILT`` marker matches; the harness writes that marker
  after the build exits 0, so a build killed mid-write is rebuilt.
* Every leg runs in a fresh process pinned to the first N of those
  CPUs, checks that its affinity is exactly N CPUs, runs the job once as
  a discarded warm-up (page cache, JIT, codegen), then best-of-2.
* ``bench.box_probes()`` is taken before every leg, so a leg timed on a
  loaded or throttled box identifies itself in the JSON.
* Every leg must report the same ``(rows_in, rows_out)``.
* It prints one JSON line.

A probe is a ``build(spark, replicas, out)`` writing its corpus under
``out`` and a ``leg(spark, out)`` returning ``(rows_in, job)``, where
``job()`` is the timed work and returns ``rows_out``. A job whose plan
ends narrow forces its rows through ``_forced``, because ``count()``
would prune the columns. High-entropy corpora (md5 tokens) with n≥5 shingles keep the
exchanges, not pair output, as the timed cost.

Probes read tables from ``$SPARK_GRAFT_SF_DIR`` (default: the sf0.1
copy under ``perfbench/data``).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from collections.abc import Callable
from typing import NamedTuple

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.join(REPO, "perfbench/data/sf0.1"))
BUILT = "_BUILT"  # Spark skips '_'-prefixed files when reading the corpus


class Probe(NamedTuple):
    metric: str
    replicas: int
    build: Callable[[SparkSession, int, str], None]
    leg: Callable[[SparkSession, str], tuple[int, Callable[[], int]]]


# ---------------------------------------------------------------- harness


def leg_pairs(n_cpus: int) -> list[tuple[int, int]]:
    """(N, 4N) pairs whose 4N leg fits ``n_cpus``."""
    pairs = [(n, 4 * n) for n in (2, 8) if 4 * n <= n_cpus]
    if pairs:
        return pairs
    if n_cpus >= 4:
        return [(1, 4)]
    raise RuntimeError(
        f"an N-vs-4N pair needs at least 4 CPUs; this process may use {n_cpus}"
    )


def check_affinity(cores: int, cpus: set[int]) -> None:
    """A leg must run on exactly its core count: a local[8] leg pinned to
    4 CPUs would time a clamped run under an 8-core label."""
    if len(cpus) != cores:
        raise RuntimeError(
            f"leg local[{cores}] may use {len(cpus)} CPUs {sorted(cpus)}, not {cores}"
        )


def ensure_corpus(out: str, stamp: str, build: Callable[[], None]) -> None:
    """Build ``out`` unless a finished build of the same ``stamp`` marked it."""
    marker = os.path.join(out, BUILT)
    try:
        with open(marker) as f:
            if f.read() == stamp:
                return
    except OSError:
        pass
    shutil.rmtree(out, ignore_errors=True)
    build()
    os.makedirs(out, exist_ok=True)
    with open(marker, "w") as f:
        f.write(stamp)


def _corpus_dir(name: str, replicas: int) -> str:
    return os.path.join(tempfile.gettempdir(), "sparktax_scaling", f"{name}_{replicas}")


def _run(name: str, replicas: int, step: str, cpus: list[int] | None = None) -> str:
    """Re-invoke this script for one step (``build`` or a leg's core
    count) in a fresh process, pinned to ``cpus`` when given."""
    cmd = [sys.executable, os.path.abspath(__file__), name, str(replicas), step]
    if cpus:
        cmd = ["taskset", "-c", ",".join(map(str, cpus)), *cmd]
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=3600)
    if r.returncode:
        raise RuntimeError(f"{' '.join(cmd)} exited {r.returncode}:\n{r.stderr[-4000:]}")
    return r.stdout


def _step(probe: Probe, name: str, replicas: int, step: str) -> None:
    from sparktax.session import get_spark

    # the Python workers import sparktax too, from any working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    cpus = os.sched_getaffinity(0)
    if step != "build":
        check_affinity(int(step), cpus)
    spark = get_spark(app=f"scaling-{name}-{step}", cores=len(cpus))
    spark.sparkContext.setLogLevel("ERROR")
    out = _corpus_dir(name, replicas)
    if step == "build":
        probe.build(spark, replicas, out)
        spark.stop()
        return
    rows_in, job = probe.leg(spark, out)
    warm = job()  # discarded warm-up
    runs = []
    for _ in range(2):
        t0 = time.perf_counter()
        n = job()
        runs.append(time.perf_counter() - t0)
        if n != warm:
            raise RuntimeError(f"{name}: a repeat returned {n} rows, the warm-up {warm}")
    spark.stop()
    print(json.dumps({"rows_in": rows_in, "rows_out": warm, "sec": round(min(runs), 3)}))


def main(argv: list[str]) -> None:
    if not argv or argv[0] not in PROBES:
        raise SystemExit(f"usage: scaling.py <{'|'.join(PROBES)}> [replicas]")
    name = argv[0]
    probe = PROBES[name]
    replicas = int(argv[1]) if len(argv) > 1 else probe.replicas
    if len(argv) > 2:
        _step(probe, name, replicas, argv[2])
        return

    cpus = sorted(os.sched_getaffinity(0))
    pairs = leg_pairs(len(cpus))
    stamp = json.dumps({"probe": name, "replicas": replicas, "sf_dir": SF_DIR})
    ensure_corpus(_corpus_dir(name, replicas), stamp, lambda: _run(name, replicas, "build"))

    from bench import box_probes

    legs = {}
    for cores in sorted({c for pair in pairs for c in pair}):
        box = box_probes()
        legs[cores] = json.loads(_run(name, replicas, str(cores), cpus[:cores]).splitlines()[-1])
        legs[cores]["box"] = box
    work = {(r["rows_in"], r["rows_out"]) for r in legs.values()}
    if len(work) != 1:
        raise RuntimeError(f"{name}: legs disagree on (rows_in, rows_out): {sorted(work)}")
    (rows_in, rows_out), = work
    print(json.dumps({
        "metric": probe.metric, "probe": name, "replicas": replicas,
        "rows_in": rows_in, "rows_out": rows_out,
        "pairs": [{
            "N_cores": n, "4N_cores": big,
            "sec_small": legs[n]["sec"], "sec_big": legs[big]["sec"],
            "rows_per_sec_small": round(rows_in / legs[n]["sec"], 1),
            "rows_per_sec_big": round(rows_in / legs[big]["sec"], 1),
            "efficiency": round(legs[n]["sec"] / (4 * legs[big]["sec"]), 3),
            "box_small": legs[n]["box"], "box_big": legs[big]["box"],
        } for n, big in pairs],
    }))


# ---------------------------------------------------------------- corpora


def _write(df: DataFrame, path: str, n_files: int = 256) -> None:
    df.repartition(n_files).write.mode("overwrite").parquet(path)


def _replicate(df: DataFrame, replicas: int) -> DataFrame:
    return df.withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(replicas - 1))))


def _md5_tokens(n: int) -> list:
    return [F.md5(F.concat(F.col("id").cast("string"), F.lit(f"tok{i}"))) for i in range(n)]


def _md5_docs(spark: SparkSession, n_docs: int) -> DataFrame:
    """``n_docs`` fully high-entropy docs of 30 md5 tokens (≈1 KB): near-zero
    true duplicates, so the candidate set stays tiny."""
    return spark.range(n_docs).select(
        F.col("id").alias("doc_id"), F.concat_ws(" ", *_md5_tokens(30)).alias("text")
    )


def _with_boilerplate(body):
    """Every 10th doc of a 60-token ``body`` gets a shared 16-token block
    spliced after (id % 37) + 1 tokens: the duplicated region sits at
    varying offsets, and its hash is hot (10 % of the corpus)."""
    boiler = " ".join(f"boiler{j}" for j in range(16))
    at = (F.col("id") % 37 + 1).cast("int")
    toks = F.split(body, " ")
    head = F.array_join(F.slice(toks, 1, at), " ")
    tail = F.array_join(F.slice(toks, at + 1, F.lit(60) - at), " ")
    return F.when(F.col("id") % 10 == 0, F.concat_ws(" ", head, F.lit(boiler), tail)).otherwise(body)


def _forced(df: DataFrame, measure, *cols: str) -> int:
    """``measure`` over ``df``, next to a ``bit_xor(xxhash64(cols))`` that
    forces every row's values (``count()`` on a narrow plan prunes them)."""
    return df.agg(measure, F.bit_xor(F.xxhash64(*cols))).first()[0]


# ---------------------------------------------------------------- probes


def _build_transcripts(spark, replicas, out):
    """lineitem-derived transcripts, 4 planted statements per ~400-char
    turn. md5 filler gives the text realistic entropy: template-only
    corpora dictionary-compress to almost nothing, which makes the job
    IPC-bound and under-reports scaling."""
    rep = _replicate(spark.read.parquet(f"{SF_DIR}/lineitem.parquet"), replicas)
    subj = F.concat(F.lit("S"), F.col("l_suppkey"))
    part = F.concat(F.lit("P"), F.col("l_partkey"))
    order = F.concat(F.lit("O"), F.col("l_orderkey") + F.col("rep"))
    ent = lambda salt: F.md5(F.concat(  # noqa: E731
        F.col("l_orderkey").cast("string"), F.lit(salt), F.col("rep").cast("string")))
    text = F.concat_ws(
        " ",
        F.lit("ok so looking at the result of the tool call we see that"),
        subj, F.lit("supplies_part"), part, F.lit("."), ent("a"),
        F.lit("then checked the next row and found note value"),
        part, F.lit("belongs_to"), order, F.lit("."), ent("b"),
        F.lit("the quantity field reads"), F.col("l_quantity").cast("string"),
        F.lit("which is fine so then"),
        order, F.lit("handled_by"), subj, F.lit("."), ent("c"),
        F.lit("also maybe worth noting the ship date and the filler words"),
        F.lit("here now data value run step next first sure output checked"),
        subj, F.lit("reports_to"), F.concat(F.lit("S"), (F.col("l_suppkey") + 1)),
        F.lit("."), ent("d"),
    )
    _write(rep.select(
        F.concat(F.col("l_orderkey").cast("string"), F.lit("-"),
                 F.col("rep").cast("string")).alias("conv_id"),
        F.col("l_linenumber").cast("int").alias("turn_idx"),
        F.lit("assistant").alias("role"),
        text.alias("text"),
        F.lit("").alias("tool"),
        F.col("l_shipdate").alias("ts"),
    ), out)


def _leg_extraction(spark, out):
    """The north-star path: parquet scan → zero-shuffle Arrow triple
    extraction."""
    from sparktax.extract import extract_triples

    t = spark.read.parquet(out)
    return t.count(), lambda: extract_triples(t).count()


def _build_salted_documents(spark, replicas, out):
    d = _replicate(spark.read.parquet(f"{SF_DIR}/documents.parquet"), replicas)
    _write(d.select(
        (F.col("doc_id") * replicas + F.col("rep")).alias("doc_id"),
        F.concat_ws(" ", F.col("text"), F.md5(F.concat(
            F.col("doc_id").cast("string"), F.lit("x"), F.col("rep").cast("string")))).alias("text"),
    ), out)


def _leg_simhash(spark, out):
    """Pure Catalyst: explode → project → partial agg → one row per doc."""
    from sparktax.textops import simhash

    docs = spark.read.parquet(out)
    return docs.count(), lambda: simhash(docs).count()


def _build_md5_docs(spark, replicas, out):
    _write(_md5_docs(spark, 5000 * replicas), out)


def _leg_lsh(spark, out):
    """MinHash/LSH blocking: shingle → 64-perm signatures → banded
    self-join → distinct candidate pairs (three exchanges)."""
    from sparktax.link.minhash import lsh_candidate_pairs, minhash_signatures, shingle

    docs = spark.read.parquet(out)
    return docs.count(), lambda: lsh_candidate_pairs(
        minhash_signatures(shingle(docs, "text", "doc_id", n=5), k=64), bands=16
    ).count()


def _build_triples(spark, replicas, out):
    rep = _replicate(spark.read.parquet(f"{SF_DIR}/lineitem.parquet"), replicas)
    s = F.concat(F.lit("S"), F.col("l_suppkey"), F.lit("-"), F.col("rep"))
    p = F.concat(F.lit("P"), F.col("l_partkey"), F.lit("-"), F.col("rep"))
    o = F.concat(F.lit("O"), F.col("l_orderkey"), F.lit("-"), F.col("rep"))
    _write(
        rep.select(s.alias("subj"), F.lit("supplies_part").alias("pred"), p.alias("obj"))
        .union(rep.select(p.alias("subj"), F.lit("belongs_to").alias("pred"), o.alias("obj")))
        .union(rep.select(o.alias("subj"), F.lit("handled_by").alias("pred"), s.alias("obj"))),
        out,
    )


def _leg_encode(spark, out):
    """Dictionary encode: one full-width exchange of every uri string with
    no pre-aggregation shrinkage (the entities dimension)."""
    from sparktax.graph.kg import encode_triples

    raw = spark.read.parquet(out)
    return raw.count(), lambda: encode_triples(raw, method="hash")[1].count()


def _build_incdedup(spark, replicas, out):
    """Two disjoint md5-doc batches; the index is seeded from batch0."""
    from sparktax.textops import dedup_incremental

    n_docs = 5000 * replicas
    docs = _md5_docs(spark, 2 * n_docs)
    _write(docs.filter(F.col("doc_id") < n_docs), f"{out}/batch0", 128)
    _write(docs.filter(F.col("doc_id") >= n_docs), f"{out}/batch1", 128)
    dedup_incremental(spark.read.parquet(f"{out}/batch0"), f"{out}/index").count()


def _leg_incdedup(spark, out):
    """Incremental dedup of batch1 against the stored index: fp anti-join,
    batch signatures, within-batch and cross band joins, snapshot commit.
    Rolling back to the seed commit (a pointer swap) gives every run the
    same index, including after a leg killed before its rollback."""
    from sparktax.catalog import rollback_snapshot
    from sparktax.textops import dedup_incremental

    b1 = spark.read.parquet(f"{out}/batch1")
    idx = f"{out}/index"
    rollback_snapshot(idx, 1)

    def job():
        n = dedup_incremental(b1, idx).count()
        rollback_snapshot(idx, 1)
        return n

    return b1.count(), job


def _build_pq(spark, replicas, out):
    """The embeddings replicated with per-(replica, position) jitter so
    every vector is distinct; codebooks, code table and 32 queries are
    built here, untimed."""
    import numpy as np

    from sparktax.pq import pq_encode, train_pq_codebooks

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    rep = spark.range(replicas).select(F.col("id").alias("rep"))
    corpus = emb.crossJoin(rep).repartition(128).select(
        (F.col("vec_id") * replicas + F.col("rep")).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x, i: x + (F.xxhash64(F.col("rep"), i, F.col("vec_id")).cast("double")
                              / F.lit(float(2**63))) * F.lit(0.05),
        ).alias("embedding"),
    )
    corpus.write.mode("overwrite").parquet(f"{out}/corpus")
    corpus = spark.read.parquet(f"{out}/corpus")
    cb = train_pq_codebooks(corpus, m_sub=16, n_codes=64, seed=42)
    np.save(f"{out}/codebooks.npy", cb)
    _write(pq_encode(corpus, cb, mode="float"), f"{out}/codes", 128)
    corpus.orderBy("vec_id").limit(32).write.mode("overwrite").parquet(f"{out}/queries")


def _leg_pq(spark, out):
    """PQ ADC over the precomputed code table (the only corpus-sized input):
    posexplode, broadcast LUT join, partial aggregate, per-query top-k."""
    import numpy as np

    from sparktax.pq import pq_topk

    cb = np.load(f"{out}/codebooks.npy")
    codes = spark.read.parquet(f"{out}/codes")
    corpus = spark.read.parquet(f"{out}/corpus")
    queries = spark.read.parquet(f"{out}/queries")
    return codes.count(), lambda: _forced(
        pq_topk(corpus, queries, k=10, codebooks=cb, codes=codes, mode="float"),
        F.count("score"), "neighbor_id",
    )


def _build_sourced_docs(spark, replicas, out):
    _write(_md5_docs(spark, 5000 * replicas).select(
        "doc_id", F.concat(F.lit("src"), (F.col("doc_id") % 32).cast("string")).alias("source"), "text"
    ), out)


def _leg_prep_chain(spark, out):
    """mix_corpora → training_order (one full-corpus shuffle on shard_id,
    256 shards) → pack_sequences. Mix weights cycle {0, 0.75, 1.5, 2.25}
    so the drop, fractional and integer+fractional lanes all run."""
    from sparktax.textops import mix_corpora, pack_sequences, training_order

    docs = spark.read.parquet(out)
    weights = {f"src{i}": (i % 4) * 0.75 for i in range(32)}

    def job():
        mixed = mix_corpora(docs, weights, seed=11)
        ordered = training_order(mixed, n_shards=256, seed=7, extra_key_cols=["copy_idx"])
        # per-shard contiguous global id: sequences fill in read order
        gid = (F.col("shard_id") * (1 << 40) + F.col("pos")).alias("gid")
        packed = pack_sequences(ordered.select(gid, "text"), budget=2048, id_col="gid", n_ranges=64)
        return _forced(packed, F.count("gid"), "gid", "seq_id", "seq_offset")

    return docs.count(), job


def _build_span_docs(spark, replicas, out):
    body = F.concat_ws(" ", *_md5_tokens(60))
    _write(spark.range(5000 * replicas).select(
        F.col("id").alias("doc_id"), _with_boilerplate(body).alias("text")), out)


def _leg_span(spark, out):
    """ExactSubstr span dedup: window hashing, a map-side-combined aggregate
    on the window hash, the hash rejoin and per-doc interval merge."""
    from sparktax.textops import dedup_spans

    docs = spark.read.parquet(out)
    return docs.count(), lambda: _forced(dedup_spans(docs, w=8), F.sum("n_removed"), "clean_text")


def _build_curation(spark, replicas, out):
    """Span-probe docs with ~40% stopword tokens (so the quality and DSIR
    gates see signal), 16 sources, a third 'en', and every 50th doc an
    exact duplicate of the one before."""
    stop = F.array(*[F.lit(s) for s in ["the", "and", "of", "to", "in", "is", "that", "for"]])
    toks = _md5_tokens(60)
    for i in range(60):
        if i % 5 < 2:
            toks[i] = F.element_at(
                stop, ((F.xxhash64(F.col("id"), F.lit(i)) % 8 + 8) % 8 + 1).cast("int"))
    docs = spark.range(5000 * replicas).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("src"), (F.col("id") % 16).cast("string")).alias("source"),
        F.when(F.col("id") % 3 == 0, F.lit("en")).otherwise(F.lit("xx")).alias("lang"),
        _with_boilerplate(F.concat_ws(" ", *toks)).alias("text"),
    )
    dup = docs.filter(F.col("doc_id") % 50 == 1).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "source", "lang", "text")
    _write(docs.unionByName(dup), out)


def _leg_curation(spark, out):
    """The composed chain, so stage-boundary costs count: quality gate →
    exact dedup → span dedup → DSIR top-80% selection."""
    from sparktax.textops import dedup_exact, dedup_spans, importance_select, quality_score

    docs = spark.read.parquet(out)

    def job():
        ok = quality_score(docs).filter(F.col("quality") >= 0.3).select("doc_id")
        d = dedup_exact(docs.join(ok, "doc_id", "left_semi"))
        sp = dedup_spans(d, w=8)
        d = (d.join(sp.select("doc_id", "clean_text"), "doc_id")
             .withColumn("text", F.col("clean_text")).drop("clean_text")
             .filter(F.length("text") > 0))
        d = d.localCheckpoint()  # stage boundary: scoring runs 2 count jobs
        sel = importance_select(d, d.filter(F.col("lang") == "en"), keep_frac=0.8)
        kept = d.join(sel.select("doc_id"), "doc_id", "left_semi")
        return _forced(kept, F.count("*"), "text")

    return docs.count(), job


PROBES = {
    "extraction": Probe("scaling_efficiency", 8, _build_transcripts, _leg_extraction),
    "simhash": Probe("simhash_scaling_efficiency", 100, _build_salted_documents, _leg_simhash),
    "lsh": Probe("lsh_shuffle_scaling", 40, _build_md5_docs, _leg_lsh),
    "encode": Probe("encode_shuffle_scaling", 8, _build_triples, _leg_encode),
    "incdedup": Probe("incdedup_scaling", 12, _build_incdedup, _leg_incdedup),
    "pq": Probe("pq_adc_scaling", 2000, _build_pq, _leg_pq),
    "prep_chain": Probe("prep_chain_scaling", 200, _build_sourced_docs, _leg_prep_chain),
    "span": Probe("span_dedup_scaling", 60, _build_span_docs, _leg_span),
    "curation": Probe("curation_chain_e2e", 400, _build_curation, _leg_curation),
}


if __name__ == "__main__":
    main(sys.argv[1:])
