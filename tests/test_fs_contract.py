"""Contract tests for the non-local filesystem path, without fsspec installed
(the reference covers this with moto, `/root/reference/tests/conftest.py:28-43`;
here a stub FileSystem exercises the same dispatch, discovery, and config
surfaces).

Also covers the round-2 ADVICE fixes: fast-path mixed-format guard, conf
save/restore, percent-encoded path join, DateRangeQuery.eval_available
leniency, LexRangeQuery wld/missing-column ordering.
"""

from __future__ import annotations

import io

import pytest

from fsql_spark.api import read_partitioned_table, write_table
from fsql_spark.fs import FileSystem, LocalFileSystem, get_url_and_fs, s3_spark_conf, set_default_config
from fsql_spark.queries import (
    ColumnComparator,
    ColumnRange,
    DateRangeQuery,
    LexRangeQuery,
    Q_EQ,
    Q_TRUE,
)
from fsql_spark.readers import EnumeratedDictReader, IdentityReader, PandasReader

from .conftest import assert_same


class DictFileSystem(FileSystem):
    """In-memory stub FS: {path: bytes} with '/'-delimited hierarchy.

    Stands in for any remote object store at the driver-side protocol level
    (ls / isdir / exists / open) — the surface discovery and the whole-file
    readers actually use."""

    def __init__(self, files: dict[str, bytes]):
        self.files = dict(files)
        self.ls_calls: list[str] = []

    def _children(self, url: str) -> tuple[list[str], list[str]]:
        prefix = url if url.endswith("/") else url + "/"
        files, dirs = set(), set()
        for path in self.files:
            if not path.startswith(prefix):
                continue
            rest = path[len(prefix):]
            (dirs if "/" in rest else files).add(rest.split("/", 1)[0])
        return sorted(files), sorted(dirs)

    def ls(self, url: str):
        self.ls_calls.append(url)
        files, dirs = self._children(url)
        if not files and not dirs and not self.exists(url):
            raise FileNotFoundError(url)
        return files, dirs

    def isdir(self, url: str) -> bool:
        return bool(self._children(url.rstrip("/"))[0] or self._children(url.rstrip("/"))[1])

    def exists(self, url: str) -> bool:
        return url in self.files or self.isdir(url)

    def open(self, url: str, mode: str = "rb"):
        if "w" in mode:
            buf = io.BytesIO()
            fsys, path = self, url

            class _W(io.BytesIO):
                def close(self_inner):
                    fsys.files[path] = self_inner.getvalue()
                    super().close()

            return _W()
        if url not in self.files:
            raise FileNotFoundError(url)
        return io.BytesIO(self.files[url])


def _csv(text: str) -> bytes:
    return text.encode()


@pytest.fixture()
def stub_fs():
    return DictFileSystem(
        {
            "bucket/table/c1=1/f1.csv": _csv("a,b\n1,x\n2,y\n"),
            "bucket/table/c1=1/f2.csv": _csv("a,b\n3,z\n"),
            "bucket/table/c1=2/f1.csv": _csv("a,b\n4,w\n"),
        }
    )


def test_protocol_dispatch_requires_fsspec_for_remote():
    # both URL grammars the reference accepts (`__init__.py:28-38`):
    # standard double-slash and fsql-style single-slash
    for url in ("s3://bucket/key", "s3:/bucket/key"):
        with pytest.raises(ValueError, match="fsspec"):
            get_url_and_fs(url)


def test_single_slash_url_parses_path(monkeypatch):
    # with fsspec "installed" (stubbed), the single-slash form must strip the
    # protocol exactly like the reference's partition(':/')
    import fsql_spark.fs as fsmod

    captured = {}

    class _FakeFsspec:
        @staticmethod
        def filesystem(protocol, **config):
            captured["protocol"] = protocol
            captured["config"] = config
            return object()

    monkeypatch.setattr(fsmod, "_HAS_FSSPEC", True)
    monkeypatch.setattr(fsmod, "fsspec", _FakeFsspec, raising=False)
    path, fs = fsmod.get_url_and_fs("s3:/bucket/key")
    assert path == "bucket/key"
    assert captured["protocol"] == "s3"
    path2, _ = fsmod.get_url_and_fs("s3://bucket/key")
    assert path2 == "bucket/key"


def test_explicit_fs_bypasses_dispatch(stub_fs):
    path, fs = get_url_and_fs("bucket/table", fs=stub_fs)
    assert path == "bucket/table"
    assert fs is stub_fs


def test_discovery_and_pandas_reader_over_stub_fs(stub_fs):
    out = read_partitioned_table(
        "bucket/table/", Q_TRUE, data_reader=PandasReader(), fs=stub_fs
    )
    assert sorted(out["a"]) == [1, 2, 3, 4]
    assert set(out["c1"]) == {"1", "2"}  # partition col, strings-only contract
    assert out["c1"].dtype == object


def test_discovery_prunes_subtrees_on_stub_fs(stub_fs):
    out = read_partitioned_table(
        "bucket/table/", Q_EQ("c1", "2"), data_reader=PandasReader(), fs=stub_fs
    )
    assert sorted(out["a"]) == [4]
    # pruning contract: the c1=1 subtree was never listed
    assert not any("c1=1" in u for u in stub_fs.ls_calls)


def test_identity_and_dict_readers_over_stub_fs(stub_fs):
    listing = read_partitioned_table(
        "bucket/table/", Q_TRUE, data_reader=IdentityReader(), fs=stub_fs
    )
    assert {f.file_url for f in listing} == set(stub_fs.files)
    assert all(f.partition_values["c1"] in {"1", "2"} for f in listing)
    # consume() round-trips through the stub's open()
    first = sorted(listing, key=lambda f: f.file_url)[0]
    assert first.consume(lambda fd: fd.read()) == stub_fs.files[first.file_url]

    json_fs = DictFileSystem(
        {
            "b/t/k=1/x.json": b'{"v": 1}',
            "b/t/k=2/y.json": b'{"v": 2}',
        }
    )
    d = read_partitioned_table("b/t/", Q_TRUE, data_reader=EnumeratedDictReader(), fs=json_fs)
    assert d == {0: {"v": 1, "k": "1"}, 1: {"v": 2, "k": "2"}}


def test_s3_spark_conf_endpoint_mapping(monkeypatch):
    monkeypatch.setenv("AWS_ACCESS_KEY_ID", "ak")
    monkeypatch.setenv("AWS_SECRET_ACCESS_KEY", "sk")
    monkeypatch.setenv("AWS_ENDPOINT_URL", "http://minio:9000")
    conf = s3_spark_conf()
    assert conf["spark.hadoop.fs.s3a.access.key"] == "ak"
    assert conf["spark.hadoop.fs.s3a.secret.key"] == "sk"
    assert conf["spark.hadoop.fs.s3a.endpoint"] == "http://minio:9000"
    assert conf["spark.hadoop.fs.s3a.path.style.access"] == "true"
    # programmatic config overrides env (reference set_default_config)
    set_default_config("s3", {"key": "override"})
    try:
        assert s3_spark_conf()["spark.hadoop.fs.s3a.access.key"] == "override"
    finally:
        set_default_config("s3", {})
        import fsql_spark.fs as fsmod

        fsmod._DEFAULT_CONFIGS["s3"].clear()


# --------------------------------------------------------------------------
# ADVICE-fix regressions
# --------------------------------------------------------------------------

def test_fast_path_falls_back_on_mixed_formats(spark, tmp_path):
    """A tree mixing csv+json under Hive dirs must NOT be parsed single-format
    by the fast path; the driver-discovery fallback reads each file with its
    own source (reference per-file dispatch)."""
    root = tmp_path / "mixed"
    (root / "p=1").mkdir(parents=True)
    (root / "p=2").mkdir(parents=True)
    (root / "p=1" / "a.csv").write_text("a,b\n1,x\n")
    (root / "p=2" / "b.json").write_text('{"a": 2, "b": "y"}\n')
    out = read_partitioned_table(str(root), Q_TRUE, spark=spark)
    import pandas as pd

    assert_same(out, pd.DataFrame({"a": [1, 2], "b": ["x", "y"], "p": ["1", "2"]}))


def test_fast_path_restores_caller_conf(spark, tmp_path):
    """The partition-type-inference conf must not leak into the caller's own
    spark.read behavior after a library call."""
    key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        from pyspark.sql import functions as F

        root = tmp_path / "t"
        df = spark.range(3).withColumn("p", (F.col("id") % 2).cast("int"))
        write_table(df, str(root), partition_by=["p"])
        out = read_partitioned_table(str(root), Q_TRUE, spark=spark)
        assert dict(out.dtypes)["p"] == "string"  # library contract: strings
        assert spark.conf.get(key) == "true"  # caller conf untouched
        # the caller's own reads keep inferring types
        own = spark.read.parquet(str(root))
        assert dict(own.dtypes)["p"] == "int"
    finally:
        spark.conf.set(key, old)


@pytest.mark.parametrize("call", ["fast_read", "driver_read", "compact", "overwrite_partitions"])
def test_library_sets_no_session_conf(spark, tmp_path, monkeypatch, call):
    """Reads, compaction and dynamic overwrite say what they need on the call
    itself: none writes a session-wide conf, which every other client of the
    same session would see. No read takes driver discovery: the AtomicQuery
    read walks the Hive tree like the others."""
    from pyspark.sql import functions as F
    from pyspark.sql.conf import RuntimeConfig

    import fsql_spark.api as api
    from fsql_spark.maintenance import compact, overwrite_partitions
    from fsql_spark.queries import AtomicQuery

    root = str(tmp_path / "t")
    df = spark.range(6).withColumn("p", (F.col("id") % 3).cast("string"))
    write_table(df, root, partition_by=["p"])
    restated = spark.createDataFrame([(99, "1")], "id long, p string")

    def refuse(self, *args):
        raise AssertionError(f"session conf written: {args}")

    discovered = []
    discover = api.discover_partitions

    def recorded(*args, **kwargs):
        discovered.append(args[0])
        return discover(*args, **kwargs)

    monkeypatch.setattr(api, "discover_partitions", recorded)
    monkeypatch.setattr(RuntimeConfig, "set", refuse)
    monkeypatch.setattr(RuntimeConfig, "unset", refuse)
    query = Q_EQ("p", "1")
    if call == "driver_read":
        query = AtomicQuery(lambda p: p == "1")
    elif call == "compact":
        compact(spark, root, partition_by=["p"])
    elif call == "overwrite_partitions":
        overwrite_partitions(restated, root, partition_by=["p"])
    out = read_partitioned_table(root, query, spark=spark)
    assert dict(out.dtypes)["p"] == "string"
    assert sorted(r.id for r in out.collect()) == ([99] if call == "overwrite_partitions" else [1, 4])
    assert discovered == []
    if call == "overwrite_partitions":  # the other partitions are untouched
        assert read_partitioned_table(root, Q_TRUE, spark=spark).count() == 5


@pytest.mark.parametrize("inference", ["false", "true"])
def test_threads_share_one_session(spark, tmp_path, monkeypatch, inference):
    """Four threads on one session: two expressible reads, one AtomicQuery
    read and the caller's own ``spark.read``. Every answer is checked; the
    caller's reads follow the caller's conf every time, and the conf is
    unchanged afterwards. With inference off, every library read loads
    prefixes; with it on, the library takes driver discovery for every
    read instead of flipping the conf."""
    import sys
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import functions as F

    import fsql_spark.api as api
    from fsql_spark.queries import AtomicQuery, Q_IN

    key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    root = str(tmp_path / "t")
    write_table(spark.range(12).withColumn("p", (F.col("id") % 3).cast("int")), root, partition_by=["p"])
    discoveries = []
    lock = threading.Lock()
    discover = api.discover_partitions

    def counted(*args, **kwargs):
        with lock:
            discoveries.append(1)
        return discover(*args, **kwargs)

    monkeypatch.setattr(api, "discover_partitions", counted)
    rounds = 4

    def fast_eq():
        for _ in range(rounds):
            out = read_partitioned_table(root, Q_EQ("p", "1"), spark=spark)
            assert dict(out.dtypes)["p"] == "string"
            assert sorted(r.id for r in out.collect()) == [1, 4, 7, 10]

    def fast_in():
        for _ in range(rounds):
            out = read_partitioned_table(root, Q_IN("p", ["0", "2"]), spark=spark)
            assert dict(out.dtypes)["p"] == "string"
            assert out.count() == 8

    def driver():
        for _ in range(rounds):
            out = read_partitioned_table(root, AtomicQuery(lambda p: p == "2"), spark=spark)
            assert dict(out.dtypes)["p"] == "string"
            assert sorted(r.id for r in out.collect()) == [2, 5, 8, 11]

    def own_reads():
        for _ in range(rounds):
            own = spark.read.parquet(root)
            assert dict(own.dtypes)["p"] == ("int" if inference == "true" else "string")
            assert own.count() == 12

    old, switch = spark.conf.get(key), sys.getswitchinterval()
    spark.conf.set(key, inference)
    sys.setswitchinterval(1e-5)
    pool = ThreadPoolExecutor(4)
    try:
        futures = [pool.submit(fn) for fn in (fast_eq, fast_in, driver, own_reads)]
        for future in futures:
            future.result(timeout=300)
        assert spark.conf.get(key) == inference
    finally:
        pool.shutdown(wait=False, cancel_futures=True)
        sys.setswitchinterval(switch)
        spark.conf.set(key, old)
    assert len(discoveries) == (3 * rounds if inference == "true" else 0)


def _read_atomic(spark, root):
    # a Hive tree: the walk judges each k=... directory with the AtomicQuery
    # and the prefix load binds k
    from fsql_spark.queries import AtomicQuery

    return read_partitioned_table(
        str(root), AtomicQuery(lambda k: True, columns={"k"}), spark=spark
    ).toPandas()


@pytest.mark.parametrize("n", [3, 11])
def test_path_join_handles_spaces(spark, tmp_path, join_calls, n):
    """Partition values with a space, '+', '%', '#' and a non-ASCII letter
    must bind, with no NULL partition columns, whatever the binding count:
    a value-only tree takes the path join, which looks each file up in one
    map literal, with no join in the plan."""
    import pandas as pd

    from fsql_spark.column_parser import FixedColumnsParser

    root = tmp_path / "spacey"
    for i in range(n):
        d = root / f"v {i} +q%#ü"
        d.mkdir(parents=True)
        pd.DataFrame({"x": [i]}).to_csv(d / "f.csv", index=False)
    df = read_partitioned_table(str(root), Q_TRUE, column_parser=FixedColumnsParser.from_str("k/fname"), spark=spark)
    out = df.toPandas()
    assert join_calls
    assert "Join" not in df._jdf.queryExecution().executedPlan().toString()
    assert len(out) == n
    assert out["k"].notna().all()
    assert set(out["k"]) == {f"v {i} +q%#ü" for i in range(n)}


@pytest.mark.parametrize("n", [3, 11])
def test_path_binding_overrides_same_named_data_column(spark, tmp_path, n):
    """A data column named like a partition key is replaced by the path
    binding (reference `deser.py:215-217`, ``frame[key] = value``)."""
    import pandas as pd

    root = tmp_path / "shadow"
    for i in range(n):
        d = root / f"k={i}"
        d.mkdir(parents=True)
        pd.DataFrame({"x": [i], "k": ["from-data"]}).to_parquet(d / "f.parquet")
    out = _read_atomic(spark, root)
    assert list(out.columns) == ["x", "k"]
    assert sorted(zip(out["x"], out["k"])) == [(i, str(i)) for i in range(n)]


def test_unmatched_scanned_file_raises_instead_of_null_binding(spark, tmp_path):
    """Spark reports a bare local path as ``file:///...``; a FileSystem whose
    spark_url hands Spark that bare path cannot be matched, and the read
    says so rather than binding NULL partition columns."""
    import os

    import pandas as pd

    class BarePathFileSystem(LocalFileSystem):
        def spark_url(self, url: str) -> str:
            return os.path.abspath(url)

    root = tmp_path / "bare"
    for i in range(3):
        d = root / f"k={i}"
        d.mkdir(parents=True)
        pd.DataFrame({"x": [i]}).to_parquet(d / "f.parquet")
    from fsql_spark.queries import AtomicQuery

    with pytest.raises(RuntimeError, match="matches no discovered partition"):
        read_partitioned_table(
            str(root), AtomicQuery(lambda k: True, columns={"k"}), fs=BarePathFileSystem(), spark=spark
        )


def test_daterange_eval_available_lenient_on_invalid_dates():
    q = DateRangeQuery("2022/01/01", "2023/01/01")
    # fully-bound but impossible date: both paths agree on non-match
    bad = {"year": "2022", "month": "2", "day": "30"}
    assert q.eval_all(bad) is False
    assert q.eval_available(bad) is False
    # non-numeric binding: same
    assert q.eval_available({"year": "x"}) is False
    # valid partial binding still optimistic
    assert q.eval_available({"year": "2022", "month": "6"}) is True


def test_lexrange_missing_wld_column_early_stops():
    """Reference checks missing-column BEFORE the wld skip (`query.py:161-164`):
    a binding lacking a wld column returns the missing-column verdict."""
    q = LexRangeQuery(
        [
            ColumnRange("a", "1", "3", ColumnComparator.num),
            ColumnRange("w", "0", "0", ColumnComparator.wld),
            ColumnRange("b", "1", "3", ColumnComparator.num),
        ]
    )
    full = {"a": "2", "w": "anything", "b": "2"}
    assert q.eval_all(full) is True
    no_wld = {"a": "1", "b": "2"}  # still tied at min when reaching w
    assert q.eval_all(no_wld) is False  # reference: missing => False
    assert q.eval_available(no_wld) is True  # missing => optimistic
    # strictly inside before reaching the wld column: verdict already made
    inside = {"a": "2"}
    assert q.eval_all(inside) is True
