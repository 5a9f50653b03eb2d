"""LLM-data-pipeline operator tests: dedup, similarity, text, multimodal."""

import pytest
from pyspark.sql import functions as F

from incubator_hudi_spark.operators import dedup, multimodal, similarity, text

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def documents(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="session")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


# ---------------------------------------------------------------- dedup ----

def test_exact_dedup_finds_planted_dups(spark, documents):
    planted = documents.limit(20).withColumn("doc_id", F.col("doc_id") + 100_000)
    with_dups = documents.unionByName(planted)
    groups = dedup.exact_duplicates(with_dups)
    assert groups.count() >= 20
    kept = dedup.dedup_exact(with_dups)
    # every planted dup group collapsed to one survivor
    assert kept.count() <= with_dups.count() - 20


def test_minhash_lsh_finds_near_dups(spark, documents):
    # plant near-dups: append one word to 10 docs
    near = (documents.limit(10)
            .withColumn("doc_id", F.col("doc_id") + 200_000)
            .withColumn("text", F.concat(F.col("text"), F.lit(" appended"))))
    with_dups = documents.unionByName(near)
    pairs = dedup.minhash_lsh_pairs(with_dups, k=16, bands=8,
                                    verify_threshold=0.5)
    found = pairs.filter((F.col("id_b") - F.col("id_a")) == 200_000).count()
    assert found >= 8  # LSH is probabilistic; 16 hashes catch ≥80% here
    deduped = dedup.dedup_minhash(with_dups, threshold=0.5)
    assert deduped.count() < with_dups.count()


def test_minhash_bounded_bucket_join(spark, documents, monkeypatch):
    """max_bucket_size mode: salting never changes the pair set; the cap
    drops degenerate buckets; the salted plan carries the bounded join."""
    # plant a hot bucket: 30 identical copies of one doc all collide in
    # every band; HOT_BUCKET_ROWS shrunk so salting activates (g > 1)
    monkeypatch.setattr(dedup, "HOT_BUCKET_ROWS", 4)
    one = documents.limit(1)
    hot = one
    for i in range(29):
        hot = hot.unionByName(
            one.withColumn("doc_id", F.col("doc_id") + 500_000 + i))
    corpus = documents.limit(50).unionByName(hot)

    unbounded = dedup.minhash_lsh_pairs(corpus, k=16, bands=8,
                                        verify_threshold=0.5)
    bounded = dedup.minhash_lsh_pairs(corpus, k=16, bands=8,
                                      verify_threshold=0.5,
                                      max_bucket_size=10_000)
    ra = sorted(map(tuple, unbounded.collect()))
    rb = sorted(map(tuple, bounded.collect()))
    assert ra == rb and len(ra) >= 30 * 29 // 2
    # the salted join is in the plan: salt column in the join keys
    plan = bounded._jdf.queryExecution().executedPlan().toString()
    assert "_salt" in plan and "sequence(0" in plan
    # capping at 8 removes the 30-member bucket's pairs entirely
    capped = dedup.minhash_lsh_pairs(corpus, k=16, bands=8,
                                     verify_threshold=0.5,
                                     max_bucket_size=8)
    capped_ids = {r["id_a"] for r in capped.collect()} \
        | {r["id_b"] for r in capped.collect()}
    hot_ids = {r["doc_id"] for r in hot.collect()}
    assert not (capped_ids & hot_ids)


def test_dedup_exact_substrings_intra_doc_repeat(spark):
    """The r7 corpus-frequency prefilter keeps window hashes with count>=2;
    a window repeated WITHIN one document hits that count but has no
    earlier owner, so the doc must stay byte-for-byte untouched — the
    id > owner rule, not the count, decides coverage.  A later doc copying
    that window is still cleaned (the prefilter must not drop dup hashes)."""
    from incubator_hudi_spark.operators.text import dedup_exact_substrings
    block = " ".join(f"b{i}" for i in range(20))
    rows = [
        (1, block + " mid " + block),      # intra-doc repeat, no other owner
        (2, "lead in words " + block),     # later doc copying the block
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["text"]
           for r in dedup_exact_substrings(df, min_words=20).collect()}
    assert out[1] == rows[0][1]            # repeat inside owner: untouched
    assert out[2] == "lead in words"       # cross-doc copy still removed


@pytest.fixture()
def no_checkpoint_dir(spark):
    """The session's checkpoint dir unset before and after the test: an
    operator sets it at most once per session, so tests that set it must
    not leak it into each other."""
    sc = spark.sparkContext

    def unset():
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.apply(None))
    unset()
    yield
    unset()


def test_reliable_checkpoint_option(spark, documents, tmp_path,
                                    no_checkpoint_dir):
    """checkpoint_dir switches localCheckpoint -> reliable checkpoint in
    the lineage-truncating operators; results are identical and the
    checkpoint actually lands in the given directory."""
    import os
    planted = (documents.limit(3)
               .withColumn("doc_id", F.col("doc_id") + 600_000))
    corpus = documents.limit(60).unionByName(planted)

    base = text.dedup_exact_substrings(corpus, min_words=8)
    ckpt_dir = str(tmp_path / "ckpt")
    rel = text.dedup_exact_substrings(corpus, min_words=8,
                                      checkpoint_dir=ckpt_dir)
    a = sorted(map(tuple, base.collect()))
    b = sorted(map(tuple, rel.collect()))
    assert a == b

    def n_checkpoints():
        return sum(len(fs) for _, _, fs in os.walk(ckpt_dir))
    n_text = n_checkpoints()
    assert n_text, "reliable checkpoint wrote nothing"

    pairs = dedup.minhash_lsh_pairs(corpus, k=16, bands=8,
                                    verify_threshold=0.5)
    c1 = sorted(map(tuple, dedup.dup_clusters(pairs).collect()))
    c2 = sorted(map(tuple,
                    dedup.dup_clusters(pairs, checkpoint_dir=ckpt_dir)
                    .collect()))
    assert c1 == c2
    assert n_checkpoints() > n_text


def test_checkpoint_dir_conflict_raises(spark, documents, tmp_path,
                                        no_checkpoint_dir):
    """Two operators passing different checkpoint_dirs: the first sets the
    session's dir, the second raises instead of redirecting it."""
    corpus = documents.limit(60)
    first = str(tmp_path / "first")
    text.dedup_exact_substrings(corpus, min_words=8,
                                checkpoint_dir=first).collect()
    current = spark.sparkContext.getCheckpointDir()
    assert current.rstrip("/").rsplit("/", 2)[-2] == "first"
    pairs = dedup.minhash_lsh_pairs(corpus, k=16, bands=8,
                                    verify_threshold=0.5)
    with pytest.raises(ValueError, match="checkpoint dir"):
        dedup.dup_clusters(pairs, checkpoint_dir=str(tmp_path / "second"))
    assert spark.sparkContext.getCheckpointDir() == current


def test_checkpoint_keeps_user_checkpoint_dir(spark, documents, tmp_path,
                                              no_checkpoint_dir):
    """A checkpoint dir the user set beforehand is kept: an operator given
    the same dir checkpoints under it, one given None checkpoints locally."""
    import os
    sc = spark.sparkContext
    user_dir = str(tmp_path / "user")
    sc.setCheckpointDir(user_dir)
    current = sc.getCheckpointDir()
    corpus = documents.limit(60)
    text.dedup_exact_substrings(corpus, min_words=8,
                                checkpoint_dir=user_dir).collect()
    text.dedup_exact_substrings(corpus, min_words=8).collect()
    assert sc.getCheckpointDir() == current
    assert any(fs for _, _, fs in os.walk(user_dir))


def test_simhash_near_dups(spark, documents):
    near = (documents.limit(10)
            .withColumn("doc_id", F.col("doc_id") + 300_000)
            .withColumn("text", F.concat(F.col("text"), F.lit(" x"))))
    with_dups = documents.unionByName(near)
    pairs = dedup.simhash_pairs(with_dups, max_hamming=6)
    found = pairs.filter((F.col("id_b") - F.col("id_a")) == 300_000).count()
    assert found >= 7
    # identical docs have hamming 0
    ident = documents.limit(5).withColumn("doc_id", F.col("doc_id") + 400_000)
    p2 = dedup.simhash_pairs(documents.unionByName(ident), max_hamming=0)
    assert p2.filter((F.col("id_b") - F.col("id_a")) == 400_000).count() == 5


def test_ngram_jaccard_exact(spark, documents):
    near = (documents.limit(5)
            .withColumn("doc_id", F.col("doc_id") + 500_000)
            .withColumn("text", F.concat(F.col("text"), F.lit(" tail"))))
    with_dups = documents.limit(100).unionByName(near)
    pairs = dedup.ngram_jaccard_pairs(with_dups, block_col="lang",
                                      n=3, threshold=0.5)
    assert pairs.filter((F.col("id_b") - F.col("id_a")) == 500_000).count() == 5
    # jaccard of identical docs = 1.0
    ident = documents.limit(3).withColumn("doc_id", F.col("doc_id") + 600_000)
    p2 = dedup.ngram_jaccard_pairs(documents.limit(50).unionByName(ident),
                                   block_col="lang", threshold=0.99)
    assert p2.filter((F.col("id_b") - F.col("id_a")) == 600_000)\
             .filter(F.abs(F.col("jaccard") - 1.0) > 1e-9).count() == 0


# ----------------------------------------------------------- similarity ----

def test_brute_force_topk_self_is_top1(spark, embeddings):
    queries = embeddings.limit(5).select(F.col("vec_id").alias("query_id"),
                                         "embedding")
    topk = similarity.brute_force_topk(embeddings, queries, k=5)
    top1 = topk.filter("rank = 1")
    assert top1.count() == 5
    # a vector's nearest neighbour is itself (cos = 1)
    assert top1.filter(F.col("query_id") != F.col("vec_id")).count() == 0
    assert top1.filter(F.abs(F.col("cosine_sim") - 1.0) > 1e-5).count() == 0


def test_lsh_topk_recall_of_top1(spark, embeddings):
    queries = embeddings.limit(10).select(F.col("vec_id").alias("query_id"),
                                          "embedding")
    approx = similarity.lsh_topk(embeddings, queries, k=3, planes=6)
    # self is in the same bucket as itself always → rank-1 self recall = 100%
    top1 = approx.filter("rank = 1")
    assert top1.filter(F.col("query_id") != F.col("vec_id")).count() == 0


def test_embedding_neardup(spark, embeddings):
    jittered = (embeddings.limit(8)
                .withColumn("vec_id", F.col("vec_id") + 10_000)
                .withColumn("embedding",
                            F.transform("embedding",
                                        lambda x: x * F.lit(1.000001))))
    pairs = similarity.embedding_neardup_pairs(
        embeddings.unionByName(jittered), threshold=0.999)
    assert pairs.filter((F.col("id_b") - F.col("id_a")) == 10_000).count() == 8


# ----------------------------------------------------------------- text ----

def test_text_analysis(spark, documents):
    out = text.analyze(documents)
    for c in ["n_chars", "n_tokens", "avg_word_len", "punct_ratio",
              "quality_score", "detected_lang", "n_tokens_bpe", "fingerprint"]:
        assert c in out.columns
    row = out.first()
    assert row["n_tokens"] > 0 and row["n_chars"] >= row["n_tokens"]
    # fingerprints deterministic: same doc → same fingerprint
    f1 = out.select("doc_id", "fingerprint")
    f2 = text.analyze(documents).select("doc_id", "fingerprint")
    assert f1.exceptAll(f2).count() == 0


def test_detect_language_on_labeled_docs(spark, documents):
    # documents.lang holds the generator's language label; our heuristic
    # should agree on a solid majority of en docs
    out = documents.withColumn("pred", text.detect_language(F.col("text")))
    langs = [r[0] for r in documents.select("lang").distinct().collect()]
    if "en" in langs:
        en = out.filter("lang = 'en'")
        agree = en.filter("pred = 'en'").count() / max(1, en.count())
        assert agree > 0.6


# ----------------------------------------------------------- multimodal ----

def test_multimodal_pipeline(spark, documents):
    media = multimodal.synthesize_media_from_documents(documents.limit(60))
    assert media.schema["payload"].dataType.typeName() == "binary"
    feats = multimodal.extract_features(media, decoder=multimodal.fake_decoder)
    got = feats.collect()
    assert len(got) == 60
    assert all(r["width"] >= 1 and r["n_frames"] >= 1 for r in got)
    # real decoder is an explicit stub
    with pytest.raises(Exception):
        multimodal.extract_features(media).collect()
    # frame sampling plumbing
    frames = multimodal.sample_frames(
        feats.filter("modality = 'video'"), every_n=4)
    one = feats.filter("modality = 'video'").first()
    exp = len(range(0, one["n_frames"], 4)) if one else 0
    if one:
        assert frames.filter(F.col("media_id") == one["media_id"]).count() == exp
    rs = multimodal.resize_stub(feats, 64, 64)
    assert rs.filter("resized_w > 64 or resized_h > 64").count() == 0


def test_lsh_and_ivf_topk(spark):
    from incubator_hudi_spark.operators import similarity as S
    from pyspark.sql import functions as F
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter("vec_id < 4").select(
        F.col("vec_id").alias("query_id"), "embedding")
    # each query's own vector must rank first in both approximate searches
    for df in (S.lsh_topk(emb, queries, k=3, planes=4),
               S.ivf_topk(emb, queries, S.sample_centroids(emb, n=4),
                          k=3, nprobe=2)):
        top1 = {r["query_id"]: r["vec_id"]
                for r in df.filter("rank = 1").collect()}
        assert top1 == {i: i for i in top1}
        assert df.filter("rank > 3").count() == 0
        assert df.groupBy("query_id").count().filter("count > 3").count() == 0


def test_pii_scrub(spark):
    from incubator_hudi_spark.operators import text as T
    rows = [
        (1, "contact me at alice@example.com or +1 555 123 4567 ok"),
        (2, "server at 192.168.0.1 and 10.0.0.255 served bob@sub.dom.org"),
        (3, "nothing sensitive here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in T.pii_scrub(df).collect()}
    assert out[1]["n_emails"] == 1 and out[1]["n_phones"] == 1
    assert "<EMAIL>" in out[1]["text_clean"] and "<PHONE>" in out[1]["text_clean"]
    assert "alice@example.com" not in out[1]["text_clean"]
    assert out[2]["n_ips"] == 2 and out[2]["text_clean"].count("<IP>") == 2
    assert out[3]["text_clean"] == "nothing sensitive here"


def test_dup_clusters_connected_components(spark):
    from incubator_hudi_spark.operators import dedup as D
    # two chains and one isolated pair: {1,2,3,4}, {10,11}, {20,21,22}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (21, 20), (21, 22)],
        ["id_a", "id_b"])
    got = {r["doc_id"]: r["cluster_id"]
           for r in D.dup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20}


def test_pack_greedy(spark):
    from incubator_hudi_spark.operators.packing import pack_greedy
    rows = [  # (doc_id, shard, n_tokens)
        (1, 0, 60), (2, 0, 50), (3, 0, 10), (4, 0, 200), (5, 0, 1),
        (10, 1, 100), (11, 1, 100),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "shard", "n_tokens"])
    got = {r["doc_id"]: r["pack_id"]
           for r in pack_greedy(df, budget=100).collect()}
    # shard 0: [60] -> pack0 (60); +50 would exceed -> pack1 (50+10=60);
    # 200 alone exceeds budget -> pack2; 1 -> +200>100 -> pack3
    assert got[1] == 0 and got[2] == 1 and got[3] == 1
    assert got[4] == 2 and got[5] == 3
    # shard 1 packs independently: 100 fills pack0 exactly, next opens pack1
    assert got[10] == 0 and got[11] == 1


# ------------------------------------------------------------- sampling ----

def test_sample_fraction_deterministic_and_sized(spark, documents):
    from incubator_hudi_spark.operators import sampling
    s1 = sampling.sample_fraction(documents, 0.3)
    s2 = sampling.sample_fraction(documents, 0.3)
    ids1 = {r[0] for r in s1.select("doc_id").collect()}
    ids2 = {r[0] for r in s2.select("doc_id").collect()}
    assert ids1 == ids2                      # same sample every run
    n = documents.count()
    assert 0.15 * n < len(ids1) < 0.45 * n   # statistically ~0.3
    # hash families agree on determinism, not membership
    md5 = sampling.sample_fraction(documents, 0.3, hash_family="md5")
    assert md5.count() > 0


def test_sample_stratified_rates(spark, documents):
    from incubator_hudi_spark.operators import sampling
    out = sampling.sample_stratified(
        documents, "lang", {"en": 1.0}, default_rate=0.0)
    got = dict(out.groupBy("lang").count().collect())
    want = dict(documents.groupBy("lang").count().collect())
    assert got.get("en") == want.get("en")   # rate 1.0 keeps everything
    assert set(got) == {"en"}                # rate 0.0 drops the rest


def test_split_train_eval_disjoint_total(spark, documents):
    from incubator_hudi_spark.operators import sampling
    train, ev = sampling.split_train_eval(documents, eval_fraction=0.2)
    t = {r[0] for r in train.select("doc_id").collect()}
    e = {r[0] for r in ev.select("doc_id").collect()}
    assert not (t & e)
    assert len(t) + len(e) == documents.count()


# ------------------------------------------------------------- vocab -------

def test_vocab_topk_rank_and_ties(spark):
    df = spark.createDataFrame(
        [(1, "a b b c c c"), (2, "c d d")], ["doc_id", "text"])
    out = {r["token"]: (r["n"], r["rank"])
           for r in text.vocab_topk(df, k=10).collect()}
    assert out["c"] == (4, 1)
    assert out["b"] == (2, 2)    # tie with d broken alphabetically
    assert out["d"] == (2, 3)
    assert out["a"] == (1, 4)


def test_dedup_minhash_keep_one(spark, documents):
    base = documents.limit(50)
    twins = base.withColumn("doc_id", F.col("doc_id") + 100_000)
    kept = dedup.dedup_minhash(base.unionByName(twins), threshold=0.7)
    # every twin (higher id) is a dup of its original → all dropped
    assert kept.filter("doc_id >= 100000").count() == 0
    # survivors = exactly what deduping the originals alone keeps
    assert kept.count() == dedup.dedup_minhash(base, threshold=0.7).count()


def test_decontaminate_drops_probe_overlap(spark):
    from incubator_hudi_spark.operators import dedup as D
    from pyspark.sql import functions as F
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    probes = docs.filter("doc_id % 11 = 4")
    clean = D.decontaminate(docs, probes, n=4)
    # every probe doc overlaps itself → dropped
    assert clean.filter("doc_id % 11 = 4").count() == 0
    # report flags exactly the probe docs as fully contaminated
    rep = D.contamination_report(docs, probes, n=4)
    full = rep.filter("contam_milli = 1000")
    assert full.filter("doc_id % 11 = 4").count() == probes.count()
    # dropping is an anti-join: survivors' rows are byte-identical
    kept = docs.join(clean.select("doc_id"), "doc_id", "left_semi")
    assert kept.count() == clean.count()


def test_kmeans_centroids_converge(spark):
    from incubator_hudi_spark.operators import similarity as S
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    k = 4
    c0 = S.sample_centroids(emb, n=k)
    c5 = S.kmeans_centroids(emb, k=k, iters=4, round_to=9)
    assert len(c5) == k and all(len(c) == len(c0[0]) for c in c5)
    # Lloyd iterations must not increase the mean distance to the assigned
    # centroid (monotone objective)
    def objective(cents):
        a = S.ivf_assign(emb, cents, round_to=9)
        sims = []
        for ci, cent in enumerate(cents):
            arr = F.array(*[F.lit(x) for x in cent])
            sims.append(F.when(F.col("_ivf_cell") == ci,
                               S.cosine(F.col("embedding"), arr)))
        return a.select(F.avg(F.coalesce(*sims)).alias("o")).first()[0]
    assert objective(c5) >= objective(c0) - 1e-9


def test_semantic_dedup_drops_twins(spark):
    from incubator_hudi_spark.operators import similarity as S
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    twins = emb.withColumn("vec_id", F.col("vec_id") + 100_000)
    both = emb.unionByName(twins)
    cents = S.kmeans_centroids(emb, k=4, iters=2, round_to=9)
    kept = S.semantic_dedup(both, cents, threshold=0.999999,
                            round_to=6, assign_round_to=9)
    # every twin is cosine-identical to its original (same cell) → dropped
    assert kept.filter("vec_id >= 100000").count() == 0
    assert kept.count() == emb.count()


def test_chunk_documents_coverage_and_overlap(spark, documents):
    """Every character is covered; consecutive chunks overlap by exactly
    overlap_chars (except a short final chunk); reassembling chunk steps
    reproduces the document."""
    chunks = text.chunk_documents(documents, chunk_chars=100,
                                  overlap_chars=20)
    docs = {r["doc_id"]: r["text"]
            for r in documents.limit(50).collect()}
    got = (chunks.filter(F.col("doc_id").isin(*docs.keys()))
           .orderBy("doc_id", "chunk_id").collect())
    by_doc = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], []).append(r)
    step = 80
    for doc_id, rows in by_doc.items():
        full = docs[doc_id]
        # chunk i starts at i*step and matches the source text
        for r in rows:
            start = r["chunk_id"] * step
            assert r["chunk_text"] == full[start:start + 100]
        # coverage: last chunk reaches the end of the document
        last = rows[-1]
        assert last["chunk_id"] * step + len(last["chunk_text"]) == len(full)
        # no redundant tail: a chunk fully contained in its predecessor
        # would add only already-covered text
        if len(rows) > 1:
            assert len(last["chunk_text"]) > 20
        # overlap: consecutive chunks share exactly 20 chars
        for a, b in zip(rows, rows[1:]):
            assert a["chunk_text"][step:] == b["chunk_text"][:100 - step]

    with pytest.raises(ValueError):
        text.chunk_documents(documents, chunk_chars=64, overlap_chars=64)


def test_cap_per_group_deterministic_and_bounded(spark, documents):
    from incubator_hudi_spark.operators.sampling import cap_per_group
    capped = cap_per_group(documents, "source", 7)
    per = capped.groupBy("source").count().collect()
    assert per and all(r["count"] <= 7 for r in per)
    # sources with >7 docs are capped exactly at 7
    big = {r["source"] for r in documents.groupBy("source").count()
           .filter("count > 7").collect()}
    assert all(r["count"] == 7 for r in per if r["source"] in big)
    # deterministic: same selection on re-run and under a different layout
    a = {r["doc_id"] for r in capped.collect()}
    b = {r["doc_id"] for r in
         cap_per_group(documents.repartition(13), "source", 7).collect()}
    assert a == b


def test_gopher_rule_filter(spark):
    """Gopher rules (Rae et al. 2021 §A1.1): each crafted doc trips exactly
    the rule it was built to trip."""
    good = ("the quick brown fox jumps over the lazy dog and then walks "
            "away to find some food that it can have for dinner with all "
            "of its friends near the old barn by the river bank today "
            "while the sun sets slowly behind those tall green hills "
            "before night falls and every creature settles into sleep")
    rows = [
        ("ok", good),
        ("too_short", "the cat and that dog have fun with all of it"),
        ("symbols", " ".join(["#tag…"] * 60) + " the be to of and that"),
        ("bullets", "\n".join(["- item the be to of and that have with "
                               "more words here now"] * 60)),
        ("no_alpha", " ".join(["1234"] * 60) + " the be"),
        ("no_stopwords", " ".join(["zebra"] * 60)),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    g = {r["doc_id"]: r for r in text.gopher_quality_filter(df).collect()}
    assert g["ok"]["gopher_pass"]
    assert not g["too_short"]["g_rule_words"]
    assert not g["symbols"]["g_rule_symbols"]
    assert not g["bullets"]["g_rule_bullets"]
    assert not g["no_alpha"]["g_rule_alpha"]
    assert not g["no_stopwords"]["g_rule_stopwords"]
    for bad in ("too_short", "symbols", "bullets", "no_alpha",
                "no_stopwords"):
        assert not g[bad]["gopher_pass"]


def test_gopher_repetition_filter(spark):
    clean = "\n".join(f"unique line number {i} with words" for i in range(10))
    liney = "\n".join(["the same exact line"] * 8 + ["one other line"])
    paray = "\n\n".join(["para body here"] * 5 + ["different para"])
    df = spark.createDataFrame(
        [("clean", clean), ("liney", liney), ("paray", paray)],
        "doc_id string, text string")
    g = {r["doc_id"]: r
         for r in text.gopher_repetition_filter(df).collect()}
    assert g["clean"]["repetition_pass"]
    assert g["liney"]["line_dup_frac"] > 0.3
    assert not g["liney"]["repetition_pass"]
    assert g["paray"]["para_dup_frac"] > 0.3
    assert not g["paray"]["repetition_pass"]


def test_dedup_spans_removes_corpus_wide_boilerplate(spark):
    """Span-level corpus dedup: spans shared by >max_occurrences docs vanish
    from every doc; unique prose survives in original order; fully-duplicate
    docs degrade to empty text."""
    from incubator_hudi_spark.operators.text import dedup_spans
    rows = [
        (1, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 u1 u2 u3"),   # boiler + unique
        (2, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 v1 v2 v3"),   # same boiler
        (3, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10"),            # unique only
        (4, ""),                                           # empty doc
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["text"]
           for r in dedup_spans(df, span_words=10).collect()}
    assert out[1] == "u1 u2 u3"          # boilerplate span removed
    assert out[2] == "v1 v2 v3"
    assert out[3] == "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10"
    assert out[4] == ""
    # order preserved across multiple surviving spans
    long = " ".join(f"a{i}" for i in range(25))
    df2 = spark.createDataFrame([(9, long)], "doc_id long, text string")
    assert dedup_spans(df2, span_words=10).first()["text"] == long


def test_dedup_spans_untouched_docs_keep_whitespace(spark):
    """Documents with no removed span keep their text byte-for-byte
    (tabs/newlines/double spaces survive); only documents that actually
    lost a span get single-space-rejoined."""
    from incubator_hudi_spark.operators.text import dedup_spans
    messy = "m1\tm2  m3\nm4 m5"                      # unique, messy ws
    boiler = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    changed = boiler + "\nz1\tz2  z3"                # loses the boiler span
    rows = [(1, messy), (2, boiler + " q1"), (3, changed),
            (4, "   ")]                               # whitespace-only doc
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["text"]
           for r in dedup_spans(df, span_words=10).collect()}
    assert out[1] == messy                            # untouched → verbatim
    assert out[4] == "   "                            # no spans → verbatim
    assert out[3] == "z1 z2 z3"                       # changed → normalized
    assert out[2] == "q1"


def test_sample_token_budget_hits_expected_mass(spark):
    from incubator_hudi_spark.operators.sampling import sample_token_budget
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    toks = docs.selectExpr("source", "size(split(text, '\\\\s+')) t")
    totals = {r[0]: r[1] for r in
              toks.groupBy("source").sum("t").collect()}
    weights = {"src0": 0.5, "src1": 0.3, "src2": 0.2}
    budget = 2000
    out = sample_token_budget(docs, weights, budget)
    got = sorted(r[0] for r in out.select("doc_id").collect())
    assert {r[0] for r in out.select("source").distinct().collect()} \
        <= set(weights)                   # unlisted sources dropped
    # selection is deterministic hash-Bernoulli — the kept set is exactly
    # computable, not statistical
    import hashlib
    exp = []
    for r in docs.select("doc_id", "source").collect():
        s = r["source"]
        if s not in weights:
            continue
        rate = min(1.0, weights[s] * budget / max(totals[s], 1))
        b = int(hashlib.md5(f"mix{r['doc_id']}".encode())
                .hexdigest()[:15], 16) % 10000
        if b < int(rate * 10000):
            exp.append(r["doc_id"])
    assert got == sorted(exp)
    # deterministic across invocations
    a = sorted(r[0] for r in out.select("doc_id").collect())
    b = sorted(r[0] for r in
               sample_token_budget(docs, weights, budget)
               .select("doc_id").collect())
    assert a == b


def test_dedup_spans_preserves_schema(spark):
    from incubator_hudi_spark.operators.text import dedup_spans
    df = spark.createDataFrame(
        [(1, "srcA", "en", "w1 w2 w3"), (2, "srcB", "de", "w1 w2 w3")],
        "doc_id long, source string, lang string, text string")
    out = dedup_spans(df, span_words=3)
    assert out.columns == df.columns      # non-text columns survive, in order
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[1]["source"] == "srcA" and rows[2]["lang"] == "de"
    assert rows[1]["text"] == "" and rows[2]["text"] == ""  # shared span


def test_sample_token_budget_null_text_source(spark):
    from incubator_hudi_spark.operators.sampling import sample_token_budget
    df = spark.createDataFrame(
        [(1, "good", "w1 w2"), (2, "nulls", None), (3, "nulls", None)],
        "doc_id long, source string, text string")
    out = sample_token_budget(df, {"good": 0.5, "nulls": 0.5},
                              total_budget=10)
    assert out.filter("source = 'nulls'").count() in (0, 2)  # no crash


def test_dedup_exact_substrings(spark):
    """ExactSubstr pass (Lee et al. 2022): overlapping windows remove
    copied passages from LATER docs at any alignment; the earliest owner
    keeps its text byte-for-byte; fully-copied docs degrade to empty;
    short docs (< min_words) and unique docs are untouched."""
    from incubator_hudi_spark.operators.text import dedup_exact_substrings
    common = " ".join(f"c{i}" for i in range(25))
    rows = [
        (1, "intro one two " + common + " tail1 tailx"),   # owner
        (2, "different lead " + common),                   # later copy
        (3, "short doc under twenty words nothing happens here at all"),
        (4, common),                                       # full copy
        (5, "zz " + " ".join(f"u{i}" for i in range(30))),  # unique long
        (6, ""),                                           # empty doc
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["text"]
           for r in dedup_exact_substrings(df, min_words=20).collect()}
    assert out[1] == rows[0][1]            # owner untouched, byte-for-byte
    assert out[2] == "different lead"      # copied passage removed
    assert out[3] == rows[2][1]            # too short for any window
    assert out[4] == ""                    # every word covered
    assert out[5] == rows[4][1]            # unique → untouched
    assert out[6] == ""
    # a copy shifted by 7 words vanishes too (overlapping alignment)
    df2 = spark.createDataFrame(
        [(1, common + " xy"),
         (2, " ".join(f"p{i}" for i in range(7)) + " " + common)],
        "doc_id long, text string")
    o2 = {r["doc_id"]: r["text"]
          for r in dedup_exact_substrings(df2, min_words=20).collect()}
    assert o2[1] == common + " xy"
    assert o2[2] == " ".join(f"p{i}" for i in range(7))
