"""No operator leaves a cached frame behind in a long-lived session.

Two checks: every LSH near-dup entry point (and the other operators
that persist an intermediate) leaves Spark's cache manager empty after
each call and an action on its result; and every ``.persist(`` /
``.cache()`` under ``operators/`` is on a short allowlist that names
where the frame is released, or why it cannot be."""

import ast
import pathlib

import numpy as np
import pytest

from data_validation_spark.functions.text import words_col
from data_validation_spark.operators import (
    dedup,
    fuzzy,
    health,
    similarity,
    vocab,
)

BASE = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango")
OTHER = ("zulu yankee xray whiskey victor uniform thirteen twelve "
         "eleven ten nine eight seven six five four three two one zero")


def _docs(spark, first_id=1):
    texts = [BASE, BASE, BASE.replace("oscar", "OSCAR-EDIT"), OTHER,
             "tiny doc"]
    return spark.createDataFrame(
        [(first_id + i, t) for i, t in enumerate(texts)],
        "doc_id long, text string")


def _vectors(spark):
    mat = np.random.default_rng(3).standard_normal((40, 8))
    mat[1] = mat[0] * 2.0
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(mat)],
        "vec_id long, embedding array<float>")


def _numbers(spark):
    return spark.createDataFrame(
        [(i % 3, i * i if i % 7 else None) for i in range(60)],
        "g long, x long")


def _increment(op):
    def run(spark):
        corpus = _docs(spark)
        return op(_docs(spark, first_id=100),
                  dedup.minhash_band_state(corpus),
                  dedup.minhash_signatures(corpus), stats_out={})
    return run


OPS = {
    "lsh_candidate_pairs":
        lambda s: dedup.lsh_candidate_pairs(_docs(s), stats_out={}),
    "minhash_near_duplicates":
        lambda s: dedup.minhash_near_duplicates(_docs(s), threshold=0.5,
                                                stats_out={}),
    "simhash_near_duplicates":
        lambda s: dedup.simhash_near_duplicates(_docs(s), stats_out={}),
    "simhash_pairs_from_signatures":
        lambda s: dedup.simhash_pairs_from_signatures(
            dedup.simhash_signatures(_docs(s)), stats_out={}),
    "increment_near_dups": _increment(dedup.increment_near_dups),
    "dedup_increment_near": _increment(dedup.dedup_increment_near),
    "embedding_near_duplicates":
        lambda s: similarity.embedding_near_duplicates(
            _vectors(s), 8, threshold=0.9, stats_out={}),
    "vocab_drift_summary":
        lambda s: vocab.vocab_drift_summary(_docs(s), _docs(s, 100),
                                            words_col("text")),
    "emd_report": lambda s: health.emd_report(_numbers(s), "g", "x", 4),
    "iqr_outlier_report":
        lambda s: health.iqr_outlier_report(_numbers(s), ["g", "x"]),
    "fuzzy_duplicate_strings":
        lambda s: fuzzy.fuzzy_duplicate_strings(
            s.createDataFrame([("kitten",), ("sitting",), ("mitten",)],
                              "name string"), "name", 2),
}


@pytest.fixture
def cache_manager(spark, sequences):
    """Spark's cache manager, emptied first; the session's cached
    ``sequences`` table is cached again afterwards."""
    spark.catalog.clearCache()
    yield spark._jsparkSession.sharedState().cacheManager()
    sequences.cache()


@pytest.mark.parametrize("op", sorted(OPS))
def test_no_cached_frame_outlives_the_call(spark, cache_manager, op):
    for _ in range(3):
        OPS[op](spark).count()
        assert cache_manager.isEmpty(), f"{op} left a cached frame"


OPERATORS = pathlib.Path(dedup.__file__).parent

#: (module, function) -> where the frame it persists is released
RELEASED = {
    ("ann_index.py", "ann_index_append"):
        "finally, after the append",
    ("dedup.py", "_bucket_pairs"):
        "finally, after the result's localCheckpoint",
    ("health.py", "emd_report"):
        "finally, after the report's localCheckpoint",
    ("lm.py", "unigram_model"):
        "finally, after the head's localCheckpoint",
    ("profile.py", "_hist_probe"):
        "finally, after the kept histograms are collected",
    ("profile.py", "_freq_probe"):
        "finally, after the top-k rows are collected",
    ("vocab.py", "vocab_drift_summary"):
        "finally, after the summary's localCheckpoint",
}
#: (module, function) -> why the frame it persists outlives the call
KEPT = {
    ("ordering.py", "global_order_index"):
        "pins the range split the positions are computed from; "
        "releasing it would mean copying the caller's whole table",
}


def _calls(node, attr):
    return [n for n in ast.walk(node) if isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute) and n.func.attr == attr]


def _persists():
    """(module, function, node) for every function that makes a
    ``.persist(`` or ``.cache()`` call under ``operators/``."""
    out = []
    for path in sorted(OPERATORS.glob("*.py")):
        src = path.read_text()
        for fn in ast.walk(ast.parse(src)):
            if not isinstance(fn, ast.FunctionDef):
                continue
            if _calls(fn, "persist") or _calls(fn, "cache"):
                out.append((path.name, fn.name, fn))
    return out


def test_every_operator_persist_is_accounted_for():
    found = _persists()
    assert {(m, f) for m, f, _ in found} == set(RELEASED) | set(KEPT)
    for module, fn, node in found:
        if (module, fn) not in RELEASED:
            continue
        # a release that only runs on success leaves the frame cached
        # whenever an action fails, so every one sits in a finally
        released = {id(c) for c in _calls(node, "unpersist")}
        in_finally = {id(c) for t in ast.walk(node) if isinstance(t, ast.Try)
                      for stmt in t.finalbody
                      for c in _calls(stmt, "unpersist")}
        assert released, f"{module}:{fn} never releases"
        assert released <= in_finally, \
            f"{module}:{fn} releases outside a finally"
