"""Incremental dedup index (llm/incremental.py): exact + near probes of a
new batch against a persisted corpus index, pruning and append semantics."""

import re

import pytest
from pyspark.sql import functions as F

from analyst_toolkit_spark.ingest import load_table
from analyst_toolkit_spark.llm import incremental as I
from analyst_toolkit_spark.llm.dedup import minhash_dedup_pairs


@pytest.fixture(scope="module")
def corpus_and_batch(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    # batch: some exact copies of corpus docs (new ids), some fresh docs
    copies = corpus.filter(F.col("doc_id") <= 40).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    fresh = docs.filter(F.col("doc_id") % 2 == 1)
    return corpus, copies.unionByName(fresh)


@pytest.fixture(scope="module")
def index_path(tmp_path_factory, spark, corpus_and_batch):
    path = str(tmp_path_factory.mktemp("dedup_index") / "idx")
    corpus, _ = corpus_and_batch
    I.dedup_index_write(corpus, path)
    return path


def test_exact_probe_flags_known_content(spark, corpus_and_batch, index_path):
    corpus, batch = corpus_and_batch
    out = I.exact_probe(spark, index_path, batch)
    rows = {r["doc_id"]: (r["is_known_dup"], r["matched_id"]) for r in out.collect()}
    assert len(rows) == batch.count()
    # every copied doc flags with its corpus source id
    copied = {r["doc_id"]: r["doc_id"] - 100000 for r in batch.filter(F.col("doc_id") > 99999).collect()}
    for new_id, src_id in copied.items():
        assert rows[new_id][0] is True
        assert rows[new_id][1] == src_id  # min doc_id sharing the fingerprint
    # fresh odd docs: known only if their text happens to equal a corpus doc's
    corpus_texts = {r["text"] for r in corpus.collect()}
    for r in batch.filter(F.col("doc_id") < 99999).collect():
        assert rows[r["doc_id"]][0] == (r["text"] in corpus_texts)


def test_exact_probe_prunes_partitions(spark, corpus_and_batch, index_path):
    """A tiny batch must read only its fingerprint-prefix partitions: the
    isin on the partition column shows up as PartitionFilters, not a
    post-scan filter."""
    _, batch = corpus_and_batch
    tiny = batch.limit(3)
    plan = (
        I.exact_probe(spark, index_path, tiny)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [fp_prefix" in plan.replace("#", " #").replace("  ", " ") or "fp_prefix" in plan.split("PartitionFilters")[1].split("]")[0]


def test_probe_tiers_agree_and_point_tier_pushes_fp_filter(
    spark, corpus_and_batch, index_path, monkeypatch
):
    """The point-lookup tier (fp isin pushdown) and the join tier must give
    identical results; the point tier's plan must carry the fp IN predicate
    into the parquet scan (row-group skipping via the sorted write)."""
    _, batch = corpus_and_batch
    point = I.exact_probe(spark, index_path, batch)  # fixture batch < 1024 fps
    plan = point._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "In(fp" in plan.replace("fp#", "fp")

    got_point = {(r["doc_id"], r["is_known_dup"], r["matched_id"]) for r in point.collect()}
    monkeypatch.setattr(I, "PROBE_ISIN_MAX", 0)  # force the join tiers
    got_join = {
        (r["doc_id"], r["is_known_dup"], r["matched_id"])
        for r in I.exact_probe(spark, index_path, batch).collect()
    }
    assert got_point == got_join


def test_near_probe_matches_adhoc_minhash(spark, corpus_and_batch, index_path):
    """Index-probe candidates/verdicts must agree with the ad-hoc in-memory
    MinHash pipeline run over corpus+batch (same hash family, same banding):
    every ad-hoc cross pair (corpus x batch) at a strong threshold must be
    found by the probe, with the signature-estimate in place of exact
    Jaccard."""
    corpus, batch = corpus_and_batch
    probe = I.near_probe(spark, index_path, batch, threshold=0.9)
    got = {(r["batch_id"], r["index_id"]) for r in probe.collect()}
    # exact copies have identical signatures -> est_jaccard == 1.0
    copies = {r["doc_id"] for r in batch.filter(F.col("doc_id") > 99999).collect()}
    for new_id in copies:
        assert (new_id, new_id - 100000) in got
    # and the probe never reports a pair the full ad-hoc pipeline would not
    # candidate at all: recompute banded collisions over the union
    union = corpus.unionByName(batch)
    adhoc = minhash_dedup_pairs(union, threshold=0.0)  # all candidates, verified >= 0
    adhoc_pairs = {(r["id_a"], r["id_b"]) for r in adhoc.collect()} | {
        (r["id_b"], r["id_a"]) for r in adhoc.collect()
    }
    for b_id, i_id in got:
        assert (i_id, b_id) in adhoc_pairs or (b_id, i_id) in adhoc_pairs


def test_append_extends_index(spark, corpus_and_batch, tmp_path):
    corpus, batch = corpus_and_batch
    path = str(tmp_path / "idx2")
    I.dedup_index_write(corpus, path)
    fresh = batch.filter(F.col("doc_id") < 99999).limit(20)
    before = I.exact_probe(spark, path, fresh)
    I.dedup_index_append(fresh, path)
    after = I.exact_probe(spark, path, fresh)
    # after appending, every appended doc is known (it is its own fingerprint)
    assert after.filter(~F.col("is_known_dup")).count() == 0
    assert before.count() == after.count()


def test_exact_probe_stream_matches_batch(spark, corpus_and_batch, index_path, tmp_path):
    """The streaming probe (stream-static join) must agree doc-for-doc with
    the batch probe on the same batch."""
    import os
    import shutil
    import tempfile

    from analyst_toolkit_spark.streaming.rules import foreach_batch_runner

    _, batch = corpus_and_batch
    src = str(tmp_path / "stream_src")
    batch.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    flagged = I.exact_probe_stream(stream, index_path)
    assert flagged.isStreaming

    collected = []

    def sink(bdf, bid):
        collected.extend(
            (r["doc_id"], r["is_known_dup"], r["matched_id"])
            for r in bdf.select("doc_id", "is_known_dup", "matched_id").collect()
        )

    ckpt = tempfile.mkdtemp(prefix="ckpt_probe_")
    q = foreach_batch_runner(flagged, sink, ckpt)
    q.awaitTermination(120)
    shutil.rmtree(ckpt, ignore_errors=True)

    expected = {
        (r["doc_id"], r["is_known_dup"], r["matched_id"])
        for r in I.exact_probe(spark, index_path, batch).collect()
    }
    assert set(collected) == expected and len(collected) == batch.count()


def test_meta_sidecar_drives_probe_parameters(spark, corpus_and_batch, tmp_path):
    """prefix_width and the near-layer hash family live in meta.json: a
    width-1 index probes correctly (probe derives 1-char prefixes from the
    sidecar, not its own default), and appends reuse the recorded params
    even when the caller passes different ones."""
    corpus, batch = corpus_and_batch
    path = str(tmp_path / "narrow_idx")
    I.dedup_index_write(corpus, path, prefix_width=1, bands=4)
    out = I.exact_probe(spark, path, batch)
    copied = {r["doc_id"] for r in batch.filter(F.col("doc_id") > 99999).collect()}
    flags = {r["doc_id"]: r["is_known_dup"] for r in out.collect()}
    assert all(flags[d] for d in copied)

    near = I.near_probe(spark, path, batch, threshold=0.9, bands=8)  # 8 ignored: meta says 4
    got = {(r["batch_id"], r["index_id"]) for r in near.collect()}
    assert all((d, d - 100000) in got for d in copied)

    # append with conflicting params: meta wins, so the appended docs are
    # findable through the same prefixes/banding
    fresh = batch.filter(F.col("doc_id") < 99999).limit(10)
    I.dedup_index_append(fresh, path, prefix_width=2, bands=16)
    after = I.exact_probe(spark, path, fresh)
    assert after.filter(~F.col("is_known_dup")).count() == 0


def test_near_probe_composes_with_foreach_batch(spark, corpus_and_batch, index_path, tmp_path):
    """Streaming near-dedup: near_probe is plain DataFrame ops, so it runs
    per micro-batch under foreachBatch against the persisted index —
    results must match the batch probe."""
    import shutil
    import tempfile

    from analyst_toolkit_spark.streaming.rules import foreach_batch_runner

    _, batch = corpus_and_batch
    src = str(tmp_path / "near_stream_src")
    batch.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)

    collected = set()

    def sink(bdf, bid):
        probe = I.near_probe(spark, index_path, bdf, threshold=0.9)
        collected.update((r["batch_id"], r["index_id"]) for r in probe.collect())

    ckpt = tempfile.mkdtemp(prefix="ckpt_near_")
    q = foreach_batch_runner(stream, sink, ckpt)
    q.awaitTermination(120)
    shutil.rmtree(ckpt, ignore_errors=True)

    expected = {
        (r["batch_id"], r["index_id"])
        for r in I.near_probe(spark, index_path, batch, threshold=0.9).collect()
    }
    assert collected == expected and expected  # non-empty: the copies match


def test_sig_jaccard_estimate_bounds(spark):
    df = spark.createDataFrame([([1, 2, 3, 4], [1, 2, 9, 9])], ["a", "b"])
    got = df.select(I.sig_jaccard_estimate(F.col("a"), F.col("b"), 4).alias("e")).first()["e"]
    assert got == 0.5


def test_probe_respects_writer_id_col(spark, corpus_and_batch, tmp_path):
    """An index written with id_col != 'doc_id' must probe without
    unresolved-column errors in EVERY tier — the probes resolve the index's
    id column from meta.json, not from an assumed name (ADVICE r5)."""
    corpus, batch = corpus_and_batch
    path = str(tmp_path / "idx_custom_id")
    I.dedup_index_write(corpus.withColumnRenamed("doc_id", "item_id"), path, id_col="item_id")

    # point-lookup tier (tiny batch) and join tier (full batch), batch keeps
    # its OWN id name — only the index side uses the writer's
    for b in (batch.limit(3), batch):
        out = I.exact_probe(spark, path, b)
        rows = {r["doc_id"]: r["is_known_dup"] for r in out.collect()}
        assert len(rows) == b.count()
    # copied docs still resolve to their corpus source id
    full = {r["doc_id"]: (r["is_known_dup"], r["matched_id"]) for r in I.exact_probe(spark, path, batch).collect()}
    for r in batch.filter(F.col("doc_id") > 99999).limit(5).collect():
        assert full[r["doc_id"]] == (True, r["doc_id"] - 100000)
    # near layer too
    probe = I.near_probe(spark, path, batch.limit(10), threshold=0.9)
    probe.collect()  # must not raise


def test_exact_probe_unknown_size_never_force_broadcasts(spark, corpus_and_batch, index_path, monkeypatch):
    """plan_size_bytes == -1 (stats unavailable) must NOT be treated as
    provably-small: the probe falls back to the shuffle join instead of
    force-broadcasting a batch of unknown size (ADVICE r5)."""
    from analyst_toolkit_spark.functions import stats as S

    _, batch = corpus_and_batch
    normal_rows = sorted(map(tuple, I.exact_probe(spark, index_path, batch).collect()))
    monkeypatch.setattr(I, "PROBE_ISIN_MAX", 5)  # force the join tier
    monkeypatch.setattr(S, "plan_size_bytes", lambda df: -1)
    out = I.exact_probe(spark, index_path, batch)
    # no broadcast HINT forced anywhere in the plan (AQE may still choose a
    # broadcast join from runtime stats — that's fine; the hint is not)
    analyzed = out._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed
    # semantics unchanged vs the normal (point-lookup tier) path
    assert sorted(map(tuple, out.collect())) == normal_rows


# -- semantic (embedding) index layer (r12) -------------------------------------


@pytest.fixture(scope="module")
def sem_corpus_and_batch(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    corpus = emb.filter(F.col("vec_id") >= 10)
    # batch: scaled copies of indexed vectors (cosine exactly 1.0, same
    # bucket by construction) + vectors the index has never seen
    copies = corpus.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.5).alias("embedding"),
    )
    fresh = emb.filter(F.col("vec_id") < 10)
    return corpus, copies.unionByName(fresh)


@pytest.fixture(scope="module")
def sem_index_path(tmp_path_factory, spark, sem_corpus_and_batch):
    path = str(tmp_path_factory.mktemp("sem_index") / "idx")
    corpus, _ = sem_corpus_and_batch
    I.semantic_index_write(corpus, path)
    return path


@pytest.fixture(scope="module")
def sem_batch_buckets(spark, sem_corpus_and_batch, sem_index_path):
    """Distinct index buckets the batch lands in, bucketed with the index's
    own plane family exactly as semantic_probe does."""
    from analyst_toolkit_spark.llm.similarity import _hyperplanes, hyperplane_bucket

    _, batch = sem_corpus_and_batch
    meta = I._read_meta(spark, sem_index_path)
    planes = _hyperplanes(int(meta["dim"]), int(meta["n_planes"]), int(meta["seed"]))
    return batch.select(hyperplane_bucket(F.col("embedding"), planes)).distinct().count()


@pytest.fixture(scope="module")
def sem_probe_reference(spark, sem_corpus_and_batch, sem_index_path):
    _, batch = sem_corpus_and_batch
    out = I.semantic_probe(spark, sem_index_path, batch, threshold=0.999)
    return sorted(map(tuple, out.collect()))


@pytest.mark.parametrize("below_cap", [0, 1], ids=["cap_at_k", "cap_at_k_minus_1"])
def test_semantic_probe_flags_known_vectors(
    spark, sem_corpus_and_batch, sem_index_path, sem_batch_buckets, sem_probe_reference,
    monkeypatch, below_cap,
):
    """Scaled copies of indexed vectors match their source (exact-copy
    recall contract: identical direction -> identical bucket -> always a
    candidate -> exact-cosine verified at 1.0); organic vectors (max
    pairwise cosine ~0.51 in this corpus) never reach 0.999.

    Boundary parity for SEM_PROBE_ISIN_MAX: with the cap at k (the batch's
    distinct-bucket count) the index scan is pruned by an isin on the
    bucket column; at k-1 the probe joins instead. Output rows are
    identical either way."""
    corpus, batch = sem_corpus_and_batch
    k = sem_batch_buckets
    assert k > 1
    monkeypatch.setattr(I, "SEM_PROBE_ISIN_MAX", k - below_cap)
    probe = I.semantic_probe(spark, sem_index_path, batch, threshold=0.999)
    optimized = probe._jdf.queryExecution().optimizedPlan().toString()
    assert bool(re.search(r"bucket#\d+L? (IN \(|INSET )", optimized)) == (below_cap == 0)
    rows = probe.collect()
    assert sorted(map(tuple, rows)) == sem_probe_reference
    out = {r["vec_id"]: r for r in rows}
    for r in batch.collect():
        vid = r["vec_id"]
        if vid >= 100000:
            assert out[vid]["is_known_dup"], vid
            assert out[vid]["matched_id"] == vid - 100000, vid
            assert out[vid]["best_cosine"] == 1.0, vid
        else:
            assert not out[vid]["is_known_dup"], vid


def test_semantic_probe_prunes_partitions(spark, sem_corpus_and_batch, sem_index_path):
    """The probe reads only the bucket directories the batch lands in — the
    isin on the partition column must appear as PartitionFilters (directory
    pruning), never a post-scan filter."""
    _, batch = sem_corpus_and_batch
    plan = I.semantic_probe(spark, sem_index_path, batch)._jdf.queryExecution().executedPlan().toString()
    part = plan.split("PartitionFilters: [", 1)
    assert len(part) == 2 and "bucket" in part[1].split("]")[0]


def test_semantic_append_uses_index_planes(spark, sem_corpus_and_batch, tmp_path):
    """Append must bucket with the INDEX's plane family (meta wins over the
    caller): vectors appended under different requested planes still land
    where the original probe arithmetic finds them."""
    corpus, _ = sem_corpus_and_batch
    path = str(tmp_path / "sem_idx")
    I.semantic_index_write(corpus, path, n_planes=6, seed=7)
    extra = corpus.filter(F.col("vec_id") < 15).select(
        (F.col("vec_id") + 500000).alias("vec_id"), "embedding"
    )
    # caller passes a WRONG plane family; meta must override it
    I.semantic_index_append(extra, path, n_planes=12, seed=99)
    probe = corpus.filter(F.col("vec_id") < 15).select(
        (F.col("vec_id") + 900000).alias("vec_id"), "embedding"
    )
    out = {r["vec_id"]: r for r in I.semantic_probe(spark, path, probe, threshold=0.999).collect()}
    for vid, r in out.items():
        assert r["is_known_dup"], vid
        # smallest matching id: the ORIGINAL corpus row, not the append copy
        assert r["matched_id"] == vid - 900000, vid


def test_semantic_append_rejects_wrong_dim(spark, sem_corpus_and_batch, tmp_path):
    """r12 ADVICE: _hyperplanes draws a dim-dependent RNG stream, so a
    wrong-dim append batch would regenerate a DIFFERENT plane family and
    scatter into wrong buckets — the silent recall break meta.json exists
    to prevent. The append must raise, and the index must stay probeable."""
    corpus, _ = sem_corpus_and_batch
    path = str(tmp_path / "sem_idx_dim")
    I.semantic_index_write(corpus, path)
    wrong = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0])], "vec_id int, embedding array<double>"
    )
    with pytest.raises(ValueError, match="batch vector dim 3 != index dim"):
        I.semantic_index_append(wrong, path)
    # index untouched: a known vector still probes green
    probe = corpus.limit(1).select(
        (F.col("vec_id") + 700000).alias("vec_id"), "embedding"
    )
    assert all(
        r["is_known_dup"]
        for r in I.semantic_probe(spark, path, probe, threshold=0.999).collect()
    )


def test_semantic_probe_stream_matches_batch(spark, sem_corpus_and_batch, sem_index_path, tmp_path):
    """The stream-static twin: candidate pairs >= threshold from a streamed
    batch equal the batch probe's match set (id -> matched index ids)."""
    import shutil
    import tempfile

    from analyst_toolkit_spark.streaming.rules import foreach_batch_runner

    corpus, batch = sem_corpus_and_batch
    src = tempfile.mkdtemp(prefix="sem_stream_")
    ck = str(tmp_path / "ckpt")
    batch.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    pairs = I.semantic_probe_stream(stream, sem_index_path, threshold=0.999)
    assert pairs.isStreaming

    got: set = set()
    q = foreach_batch_runner(
        pairs,
        lambda b, _i: got.update((r["vec_id"], r["matched_id"]) for r in b.collect()),
        ck,
    )
    q.awaitTermination(120)

    want = {
        (r["vec_id"], r["matched_id"])
        for r in I.semantic_probe(spark, sem_index_path, batch, threshold=0.999).collect()
        if r["is_known_dup"]
    }
    # batch probe reports min matched id; the stream reports every pair —
    # the stream set must COVER the batch matches and contain nothing under
    # threshold (here: only the exact-copy pairs exist at 0.999)
    assert want <= got and len(got) > 0
    assert {v for v, _ in got} == {v for v, _ in want}
    shutil.rmtree(src, ignore_errors=True)


# -- BM25 posting index (r15) -------------------------------------------------


def test_bm25_index_probe_matches_live_operator(spark, sf_dir, tmp_path):
    """The persisted posting index must answer a query workload EXACTLY like
    the live bm25_topk_join over the same corpus — same rounded scores,
    same smallest-id tie-break — including when the index was grown by an
    append (df derives from the pruned postings and the sidecar scalars
    merge exactly, so nothing goes stale). Probing a non-bm25 layout and an
    oversized term workload fail loud."""
    from analyst_toolkit_spark.llm import text as T

    docs = load_table(spark, sf_dir, "documents")
    vocab = [
        r["token"]
        for r in T.build_vocab(docs, key="text", size=40).orderBy("token").collect()
    ]
    m = len(vocab)
    workload = [
        (i, [vocab[i % m], vocab[(3 * i + 1) % m], vocab[(5 * i + 2) % m]])
        for i in range(30)
    ]
    qdf = spark.createDataFrame(workload, "query_id long, terms array<string>")
    live = sorted(map(tuple, T.bm25_topk_join(docs, qdf, k=8).collect()))

    whole = str(tmp_path / "bm25_whole")
    I.bm25_index_write(docs, whole)
    got = sorted(map(tuple, I.bm25_index_probe(spark, whole, qdf, k=8).collect()))
    assert got == live

    grown = str(tmp_path / "bm25_grown")
    I.bm25_index_write(docs.filter(F.col("doc_id") % 2 == 0), grown)
    I.bm25_index_append(spark, grown, docs.filter(F.col("doc_id") % 2 == 1))
    got2 = sorted(map(tuple, I.bm25_index_probe(spark, grown, qdf, k=8).collect()))
    assert got2 == live

    with pytest.raises(ValueError, match="max_terms"):
        I.bm25_index_probe(spark, whole, qdf, max_terms=2)
    with pytest.raises(ValueError, match="not a bm25 index"):
        I.bm25_index_append(spark, str(tmp_path / "bm25_missing"), docs)


def test_bm25_index_probe_prunes_partitions(spark, sf_dir, tmp_path):
    """The probe's scan must prune to the workload's term buckets at the
    DIRECTORY level (PartitionFilters on term_bucket) with the term set
    pushed as a data filter — the corpus is never scanned; null terms raise
    in-plan."""
    from analyst_toolkit_spark.llm import text as T  # noqa: F401

    docs = load_table(spark, sf_dir, "documents")
    base = str(tmp_path / "bm25_prune")
    I.bm25_index_write(docs, base)
    qdf = spark.createDataFrame(
        [(0, ["spark", "query"])], "query_id long, terms array<string>"
    )
    df = I.bm25_index_probe(spark, base, qdf, k=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*term_bucket[^\]]* IN ", plan)
    assert "Union" not in plan and "BatchEvalPython" not in plan
    null_q = spark.createDataFrame(
        [(0, ["ok"]), (1, None)], "query_id long, terms array<string>"
    )
    with pytest.raises(Exception, match="null terms array"):
        I.bm25_index_probe(spark, base, null_q).collect()


def test_bm25_postings_single_tokenize_and_null_text_stats(spark, tmp_path):
    """r16: the postings stream tokenizes ONCE at any size (no size gate —
    the sentinel row carries dl and the sidecar scalars ride an observe()
    on the write), with the r15 null-text contract intact: a null-text doc
    counts toward n_docs, contributes NULL (nothing) to sum_dl, and emits
    no postings; empty/token-less docs count with dl=0. The postings filter
    must NOT push through CollectMetrics (the observation sees every
    sentinel row)."""

    rows = [
        (1, "the quick brown fox the fox"),
        (2, None),
        (3, ""),
        (4, "!!! ???"),  # non-empty but token-less
        (5, "THE Quick"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    postings, obs = I._bm25_postings(df, "text", "doc_id", 8)
    plan = postings._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("regexp_extract_all") == 1
    got = sorted(
        (r["doc_id"], r["term"], r["tf"], r["dl"]) for r in postings.collect()
    )
    assert got == [
        (1, "brown", 1, 6), (1, "fox", 2, 6), (1, "quick", 1, 6),
        (1, "the", 2, 6), (5, "quick", 1, 2), (5, "the", 1, 2),
    ]
    stats = obs.get
    assert stats["n_docs"] == 5  # null/empty/token-less docs all count
    assert stats["sum_dl"] == 8  # 6 + 0 + 0 + 2; null-text dl skipped

    # end to end: meta sidecar written from the observation during the write
    base = str(tmp_path / "bm25_null")
    I.bm25_index_write(df, base)
    meta = I._read_meta(spark, base)
    assert meta["n_docs"] == 5 and meta["sum_dl"] == 8
    qdf = spark.createDataFrame([(0, ["fox"])], "query_id long, terms array<string>")
    out = I.bm25_index_probe(spark, base, qdf, k=5).collect()
    assert [r["doc_id"] for r in out] == [1]
