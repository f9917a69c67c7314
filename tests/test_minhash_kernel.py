"""The MinHash kernel (``_hashing.minhash_shingles`` behind
``dedup.minhash_signatures``) against an independent pure-Python oracle.

The oracle splits on " ", joins word windows with "\\x01", keeps each doc's
first-occurrence distinct shingles, hashes their UTF-8 bytes with FNV-1a 64
in Python ints, mixes each seed with splitmix64 and takes the signed min.
``sh`` must also equal Spark's ``_word_shingles`` (the set the exact Jaccard
paths use), order included. Inputs: an edge zoo plus the seed-1 perfbench
corpus, across n-gram sizes, signature widths, key types, Arrow batch sizes
and ``useLargeVarTypes``."""

from __future__ import annotations

from contextlib import contextmanager

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from fsql_spark.operators._hashing import _fnv1a64_fold, _string_bytes, fnv1a64, minhash_shingles
from fsql_spark.operators.dedup import (
    _word_shingles,
    minhash_signatures,
    read_corpus_signatures,
    write_corpus_signatures,
)
from perfbench.inputs import make_corpus

M64 = (1 << 64) - 1

ZOO = [
    "", " ", "  ", "a", "a b", "a  b", "a b ", " a b", "a\tb c d",
    "é ü ß 日本 語 é ü", None, "x y x y x y x y", "a b c d e f g",
    "a b c a b c a b c", "\x01 \x01", "p q", "a " * 40, "🙂 x 🙂 x",
]

#: docs signed against the oracle at every width; the rest at width 2 only
#: (a Python splitmix per gram and seed is the oracle's whole cost)
WIDE_EVERY = 16


def _fnv(s: str) -> int:
    h = 0xCBF29CE484222325
    for b in s.encode("utf-8"):
        h = ((h ^ b) * 0x100000001B3) & M64
    return h


def _mix(x: int) -> int:
    x = (x + 0x9E3779B97F4A7C15) & M64
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & M64
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & M64
    return x ^ (x >> 31)


def _signed(x: int) -> int:
    return x - (1 << 64) if x >> 63 else x


def oracle_shingles(text: str | None, n: int) -> list[str]:
    if text is None:
        return []
    w = text.split(" ")
    return list(dict.fromkeys("\x01".join(w[i : i + n]) for i in range(len(w) - n + 1)))


def oracle_sig(sh: list[str], k: int) -> list[int]:
    hs = [_fnv(g) for g in sh]
    seeds = [_mix((j * 0x9E3779B97F4A7C15) & M64) for j in range(1, k + 1)]
    return [min(_signed(_mix(h ^ s)) for h in hs) for s in seeds]


@pytest.fixture(scope="module")
def corpus():
    docs = make_corpus(1).docs
    rows = [(int(i), t) for i, t in zip(docs["doc_id"], docs["text"])]
    base = max(i for i, _ in rows) + 1
    return rows + [(base + j, t) for j, t in enumerate(ZOO)]


@pytest.fixture(scope="module")
def oracle(corpus):
    """(ngram, doc_id) -> (sh, 64-wide sig or 2-wide sig); empty sets absent."""
    out = {}
    for n in (1, 2, 3, 5):
        for pos, (doc_id, text) in enumerate(corpus):
            sh = oracle_shingles(text, n)
            if sh:
                wide = pos % WIDE_EVERY == 0 or pos >= len(corpus) - len(ZOO)
                out[n, doc_id] = (sh, oracle_sig(sh, 64 if wide else 2))
    return out


@contextmanager
def _confs(spark, **confs):
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _check(spark, corpus, oracle, ngram, num_hashes, key_type="long"):
    df = spark.createDataFrame(corpus, "doc_id long, text string").repartition(3)
    to_id = int
    if key_type == "string":
        df = df.withColumn("doc_id", F.concat(F.lit("d"), F.col("doc_id").cast("string")))
        to_id = lambda k: int(k[1:])  # noqa: E731
    got = {to_id(r["k"]): (list(r["sig"]), list(r["sh"]))
           for r in minhash_signatures(df, "doc_id", "text", num_hashes, ngram).collect()}
    jvm = {
        to_id(r["k"]): list(r["sh"])
        for r in df.select(F.col("doc_id").alias("k"), _word_shingles(F.col("text"), ngram).alias("sh"))
        .where(F.size("sh") > 0)
        .collect()
    }
    want = {d: v for (n, d), v in oracle.items() if n == ngram}
    assert set(got) == set(jvm) == set(want)
    assert len(got) > 4000
    checked_wide = 0
    for d, (sig, sh) in got.items():
        osh, osig = want[d]
        assert sh == jvm[d] == osh, d
        assert len(sig) == num_hashes
        if len(osig) >= num_hashes:
            assert sig == osig[:num_hashes], d
            checked_wide += 1
        else:
            assert sig[: len(osig)] == osig, d
    assert checked_wide >= (len(got) if num_hashes == 2 else 250)


@pytest.mark.parametrize("num_hashes", [2, 32, 64])
@pytest.mark.parametrize("ngram", [1, 2, 3, 5])
def test_kernel_matches_oracle_and_jvm_shingles(spark, corpus, oracle, ngram, num_hashes):
    _check(spark, corpus, oracle, ngram, num_hashes)


@pytest.mark.parametrize("ngram", [1, 3])
@pytest.mark.parametrize(
    "key_type,confs",
    [
        ("string", {}),
        # several Arrow batches per partition
        ("long", {"spark.sql.execution.arrow.maxRecordsPerBatch": "37"}),
        ("string", {"spark.sql.execution.arrow.useLargeVarTypes": "true"}),
        ("long", {
            "spark.sql.execution.arrow.useLargeVarTypes": "true",
            "spark.sql.execution.arrow.maxRecordsPerBatch": "5",
        }),
    ],
)
def test_kernel_layout_independent(spark, corpus, oracle, ngram, key_type, confs):
    with _confs(spark, **confs):
        _check(spark, corpus, oracle, ngram, 32, key_type)


@pytest.mark.parametrize("text_type", [pa.string(), pa.large_string()])
def test_kernel_reads_sliced_arrays(text_type):
    """Arrow hands the kernel arrays with a non-zero offset after a slice;
    offsets and bytes must be read relative to it."""
    texts = ZOO + ["q r s t", "t s r q p"]
    whole = pa.RecordBatch.from_arrays(
        [pa.array(range(len(texts)), pa.int64()), pa.array(texts, text_type)], names=["k", "text"]
    )
    part = whole.slice(3, len(texts) - 5)
    assert part.column(1).offset == 3
    got = minhash_shingles(part, 8, 2).to_pylist()
    want = [
        {"k": i, "sig": oracle_sig(sh, 8), "sh": sh}
        for i, t in enumerate(texts)
        if 3 <= i < len(texts) - 2 and (sh := oracle_shingles(t, 2))
    ]
    assert got == want
    strs = pa.array(["", "ab", None, "é日", "x" * 300], text_type).slice(1)
    plain = [s or "" for s in strs.to_pylist()]
    assert list(_fnv1a64_fold(*_string_bytes(strs))) == list(fnv1a64(plain)) == [_fnv(s) for s in plain]


def test_persisted_signatures_equal_in_memory(spark, tmp_path):
    """write -> read of a signature table returns the in-memory rows
    exactly (sig and sh, order included), under the current format."""
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(ZOO + [f"w{i} w{i + 1} w{i + 2} w{i % 3}" for i in range(60)])],
        "doc_id long, text string",
    )
    url = str(tmp_path / "sigs")
    write_corpus_signatures(docs, "doc_id", "text", url, num_hashes=16, ngram=2)
    back = read_corpus_signatures(spark, url, num_hashes=16, ngram=2)

    def rows(df):
        return sorted((r["k"], list(r["sig"]), list(r["sh"])) for r in df.collect())

    mem = rows(minhash_signatures(docs, "doc_id", "text", 16, 2))
    assert len(mem) > 60
    assert rows(back) == mem
    assert back.columns == ["k", "sig", "sh"]
