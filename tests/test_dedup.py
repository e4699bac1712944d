"""Dedup operators on a constructed corpus with known duplicate structure."""

import re

import pytest
from pyspark.sql import functions as F

from data_validation_spark.operators import dedup

BASE = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango")
NEAR = BASE.replace("oscar", "OSCAR-EDIT")          # one word changed
UNRELATED = ("zulu yankee xray whiskey victor uniform thirteen twelve "
             "eleven ten nine eight seven six five four three two one zero")


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, BASE),
        (2, BASE),                    # exact dup of 1
        (3, "  " + BASE.upper() + " "),  # fingerprint-dup of 1 (case/ws)
        (4, NEAR),                    # near dup of 1
        (5, UNRELATED),
        (6, "tiny doc"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_exact_duplicate_groups(corpus):
    groups = dedup.exact_duplicate_groups(corpus).collect()
    assert len(groups) == 1
    assert groups[0]["n_docs"] == 3 and groups[0]["keep_id"] == 1


def test_dedup_exact_keeps_min_id(corpus):
    kept = sorted(r["doc_id"] for r in dedup.dedup_exact(corpus).collect())
    assert kept == [1, 4, 5, 6]


def test_minhash_signatures_shape_and_determinism(corpus):
    s1 = {r["doc_id"]: r["signature"] for r in
          dedup.minhash_signatures(corpus, n_hashes=16).collect()}
    s2 = {r["doc_id"]: r["signature"] for r in
          dedup.minhash_signatures(corpus, n_hashes=16).collect()}
    assert s1 == s2
    assert all(len(v) == 16 for v in s1.values())
    assert s1[1] == s1[2]  # identical text → identical signature


def test_minhash_near_duplicates(corpus):
    nd = dedup.minhash_near_duplicates(corpus, threshold=0.5)
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in nd.collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 4) in pairs and 0.5 <= pairs[(1, 4)] < 1.0
    assert not any(5 in p for p in pairs)  # unrelated never pairs


def test_verify_pairs_jaccard_exact_value(spark, corpus):
    pairs = spark.createDataFrame([(1, 4)], "id_a long, id_b long")
    j = dedup.verify_pairs_jaccard(corpus, pairs).first()["jaccard"]
    # 18 shared 3-gram shingles of 18+... changed word breaks 3 shingles
    # around position of 'oscar': |A|=|B|=18, |A∩B|=15, |A∪B|=21
    assert j == pytest.approx(15 / 21)


def test_simhash_identical_and_near(corpus):
    sh = {r["doc_id"]: r["simhash"] for r in
          dedup.simhash_signatures(corpus).collect()}
    assert sh[1] == sh[2] == sh[3]  # normalization: case/ws-insensitive
    mask = (1 << 64) - 1  # int64 → uint64 bit pattern before popcount
    ham_near = bin((sh[1] ^ sh[4]) & mask).count("1")
    ham_far = bin((sh[1] ^ sh[5]) & mask).count("1")
    assert ham_near < ham_far
    assert ham_near <= 16


def test_simhash_near_duplicates_pairs(corpus):
    nd = dedup.simhash_near_duplicates(corpus, max_hamming=16)
    pairs = {(r["id_a"], r["id_b"]) for r in nd.collect()}
    assert (1, 2) in pairs and (1, 3) in pairs and (2, 3) in pairs
    assert not any(5 in p for p in pairs)


def test_lsh_hot_bucket_cap(spark):
    """A degenerate corpus where every doc is identical must respect the
    max_bucket guard instead of going quadratic."""
    df = spark.createDataFrame([(i, BASE) for i in range(50)],
                               "doc_id long, text string")
    capped = dedup.lsh_candidate_pairs(df, max_bucket=10)
    assert capped.count() == 0
    uncapped = dedup.lsh_candidate_pairs(df, max_bucket=1000)
    assert uncapped.count() == 50 * 49 // 2


def test_minhash_on_planted_testdata_dups(spark):
    """The driver's documents table plants exact/near duplicates —
    MinHash must surface them (doc 435/486 verified identical)."""
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    nd = dedup.minhash_near_duplicates(docs, threshold=0.9)
    pairs = {(r["id_a"], r["id_b"]) for r in nd.collect()}
    assert (435, 486) in pairs


def test_lsh_drop_accounting(spark):
    """Hot-bucket cap drops are counted, never silent (stats_out)."""
    docs = [(i, "common boiler plate text repeated everywhere")
            for i in range(40)] + [(100 + i, f"unique document number {i} "
                                    f"with its own words {i*7}")
                                   for i in range(10)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    stats = {}
    pairs = dedup.lsh_candidate_pairs(df, max_bucket=10, stats_out=stats)
    pairs.count()
    assert stats["n_dropped_buckets"] > 0
    assert stats["n_dropped_memberships"] >= 40  # the boilerplate cluster
    stats2 = {}
    dedup.lsh_candidate_pairs(df, max_bucket=1000, stats_out=stats2).count()
    assert stats2["n_dropped_buckets"] == 0
    assert stats2["n_dropped_memberships"] == 0


def test_simhash_drop_accounting(spark):
    docs = [(i, "identical text cluster") for i in range(30)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    stats = {}
    dedup.simhash_near_duplicates(df, max_bucket=5, stats_out=stats).count()
    assert stats["n_dropped_buckets"] > 0 and stats["n_dropped_memberships"] > 0


def test_ngram_contamination(spark):
    """Docs sharing >= min_hits distinct 3-grams with the benchmark are
    flagged with exact hit counts; clean docs are not."""
    bench = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(1, "a sentence about the quick brown fox jumps far away"),
         (2, "quick brown fox appears once here"),
         (3, "completely unrelated words in this document")],
        "doc_id long, text string")
    out = {r["doc_id"]: r["n_hits"] for r in
           dedup.ngram_contamination(corpus, bench, min_hits=1).collect()}
    # doc 1 shares: 'the quick brown','quick brown fox','brown fox jumps'
    assert out[1] == 3
    assert out[2] == 1          # 'quick brown fox'
    assert 3 not in out
    strict = {r["doc_id"] for r in
              dedup.ngram_contamination(corpus, bench, min_hits=2).collect()}
    assert strict == {1}


def test_ngram_contamination_broadcast_plan(spark):
    bench = spark.createDataFrame([(0, "x y z w")], "doc_id long, text string")
    corpus = spark.createDataFrame([(1, "x y z")], "doc_id long, text string")
    plan = dedup.ngram_contamination(corpus, bench) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan


def test_token_ngram_contamination_on_real_token_arrays(spark, sequences):
    """The pre-tokenized screen over actual array<int> payloads: a
    benchmark of one stored sequence flags that sequence (full-array
    overlap) and a constructed 20-token-prefix copy (exactly 13
    distinct 8-grams), and nothing else — seed-42 random token ids
    make an accidental 8-gram collision across docs ~impossible."""
    from pyspark.sql import functions as F

    from data_validation_spark.operators.dedup import token_ngram_contamination
    bench = sequences.filter(F.col("doc_id") == "doc-00000100") \
        .select("doc_id", "tokens")
    partial = bench.select(F.lit("prefix-copy").alias("doc_id"),
                           F.slice("tokens", 1, 20).alias("tokens"))
    corpus = sequences.select("doc_id", "tokens") \
        .filter(F.col("tokens").isNotNull()).unionByName(partial)
    hits = {r["doc_id"]: r["n_hits"] for r in token_ngram_contamination(
        corpus, bench, k=8, min_hits=3).collect()}
    assert set(hits) == {"doc-00000100", "prefix-copy"}
    assert hits["prefix-copy"] == 20 - 8 + 1
    assert hits["doc-00000100"] >= hits["prefix-copy"]


def test_minhash_prune_verify_same_answer(spark, sequences):
    """prune_verify (the sparse-candidate production setting) of
    ``verify_pairs_jaccard`` must not change the answer, only the
    shingle-hashing scan set."""
    docs = sequences.limit(300).select(
        "doc_id", F.concat_ws(" ", F.transform(
            "tokens", lambda t: t.cast("string"))).alias("text"))
    pairs = dedup.lsh_candidate_pairs(docs)
    base, pruned = ({(r.id_a, r.id_b): r.jaccard for r in
                     dedup.verify_pairs_jaccard(docs, pairs,
                                                prune_verify=p).collect()}
                    for p in (False, True))
    assert base == pruned and len(base) > 0


_SPREAD = re.compile(r"hashpartitioning\(doc_id#\d+L?, \d+\), REPARTITION_BY_NUM")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _split_cap(spark, size: int):
    """Context manager pinning ``spark.sql.files.maxPartitionBytes`` to
    ``size`` bytes, restoring the previous setting on exit."""
    from contextlib import contextmanager

    @contextmanager
    def pinned():
        key = "spark.sql.files.maxPartitionBytes"
        old = spark.conf.get(key, None)
        spark.conf.set(key, str(size))
        try:
            yield
        finally:
            spark.conf.unset(key) if old is None else spark.conf.set(key, old)
    return pinned()


def test_minhash_spread_same_pairs(spark, tmp_path):
    """A one-row-group corpus (one scan partition) is hash-spread by id
    before hashing, and the spread changes no candidate, no pair and no
    Jaccard value — NULL, empty, shorter-than-k and identical texts
    included: an unspread run, forced by a split size that cuts the
    file into more splits than cores, returns the same."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    cores = spark.sparkContext.defaultParallelism
    if cores < 2:
        pytest.skip("one core: nothing to spread over")
    rows = [(1, BASE), (2, BASE), (3, NEAR), (4, UNRELATED),
            (5, "tiny doc"), (6, None), (7, "")]
    rows += [(100 + i, f"{BASE} extra words number {i}") for i in range(20)]
    path = str(tmp_path / "corpus.parquet")
    pq.write_table(pa.table({"doc_id": [r[0] for r in rows],
                             "text": [r[1] for r in rows]}), path)
    assert pq.ParquetFile(path).num_row_groups == 1

    def run():
        # a DataFrame keeps the physical plan it was first given, so
        # each run reads the file afresh under the current split size
        df = spark.read.parquet(path)
        found = dedup.minhash_near_duplicates(df, threshold=0.5)
        return (_plan(dedup._minhash_docs(df, "text", "doc_id")),
                {(r.id_a, r.id_b): r.jaccard for r in found.collect()},
                {(r.id_a, r.id_b) for r in
                 dedup.lsh_candidate_pairs(df).collect()})

    spread, got, cands = run()
    assert _SPREAD.search(spread)
    with _split_cap(spark, os.path.getsize(path) // (2 * cores)):
        plain, want, plain_cands = run()
    assert not _SPREAD.search(plain)
    assert got == want and (1, 2) in got and len(got) > 20
    assert cands == plain_cands and {(1, 2), (6, 7)} <= cands


def test_minhash_no_spread_for_wide_table_over_split_cap(spark, tmp_path):
    """A text table with wide metadata, split into at least one scan
    partition per core, is not reshuffled: the size estimate of its
    (id, text) projection counts each string as 20 B and lands under
    cores × maxPartitionBytes, but the spread follows the partition
    count, not that estimate."""
    import os
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = random.Random(7)
    n = 400

    def noise(k):
        return " ".join(f"{rng.getrandbits(40):x}" for _ in range(k))
    cols = {"doc_id": list(range(n)), "text": [noise(40) for _ in range(n)]}
    cols.update({f"meta{j}": [noise(3) for _ in range(n)] for j in range(8)})
    path = str(tmp_path / "wide.parquet")
    pq.write_table(pa.table(cols), path, row_group_size=25,
                   compression="none")
    size = os.path.getsize(path)
    cores = spark.sparkContext.defaultParallelism
    cap = size // (2 * cores)
    with _split_cap(spark, cap):
        df = spark.read.parquet(path)
        estimate = int(df.select("doc_id", "text")._jdf.queryExecution()
                       .optimizedPlan().stats().sizeInBytes())
        assert estimate <= cores * cap < size
        assert df.rdd.getNumPartitions() >= cores
        docs = dedup._minhash_docs(df, "text", "doc_id")
        assert "REPARTITION_BY_NUM" not in _plan(docs)


@pytest.mark.parametrize("op", ["lsh_candidate_pairs",
                                "minhash_near_duplicates",
                                "minhash_band_state"])
def test_minhash_bands_must_tile_signature(corpus, op):
    """16 hashes do not split into 5 bands; every LSH entry point says
    so instead of dropping the trailing hashes."""
    with pytest.raises(ValueError, match="divisible"):
        getattr(dedup, op)(corpus, n_hashes=16, bands=5)
