"""One listing loop serves every driver walk (``discovery.list_level``):
driver discovery goes down one level at a time on one listing pool per
level, so its yield order is pinned here, and so is the number of threads
a crawl may start. ``file_stats`` lists through the same loop and sizes
its files on the same pool. No Spark session is needed."""

from __future__ import annotations

import threading
import time
from pathlib import Path

from fsql_spark.column_parser import AUTO_PARSER, DateRangeGenerator, FixedColumnsParser
from fsql_spark.discovery import Partition, discover_partitions
from fsql_spark.fs import LocalFileSystem
from fsql_spark.maintenance import file_stats
from fsql_spark.queries import Q_TRUE


def _tree(root: Path, files: dict[str, int]) -> str:
    """Files of the given sizes under ``root``; returns its URL."""
    for rel, size in files.items():
        target = root / rel
        target.parent.mkdir(parents=True, exist_ok=True)
        target.write_bytes(b"x" * size)
    return str(root)


def _discovered(root: str, parser, query=Q_TRUE) -> list[str]:
    parts = discover_partitions(query, parser, Partition(root), LocalFileSystem())
    return [p.url[len(root) + 1:] for p in parts]


def test_mixed_depth_auto_parser_order(tmp_path):
    """Sorted listing order, hidden names dropped, and a directory's
    subdirectory partitions before its own files."""
    root = _tree(tmp_path / "t", dict.fromkeys([
        "top.csv", "_SUCCESS", ".top.csv.crc",
        "a=1/f1.csv", "a=1/b=x/g.csv", "a=1/_spark_metadata/m.json",
        "a=10/f.csv",
        "a=2/b=y/c=3/h.csv", "a=2/b=y/.h.csv.crc", "a=2/b=x/g.csv",
    ], 1))
    assert _discovered(root, AUTO_PARSER) == [
        "a=1/b=x/g.csv",
        "a=1/f1.csv",
        "a=10/f.csv",
        "a=2/b=x/g.csv",
        "a=2/b=y/c=3/h.csv",
        "top.csv",
    ]


def test_fixed_columns_generated_filenames_order(tmp_path):
    """Listed directories in sorted order ("10" before "9"), declared
    filename values in their declared order, files above the terminal
    level ignored."""
    root = _tree(tmp_path / "t", dict.fromkeys([
        "README", "2022/9/a.csv", "2022/9/b.csv", "2022/10/a.csv", "2022/10/b.csv", "2021/12/b.csv",
        "2021/12/a.csv",
    ], 1))
    parser = FixedColumnsParser.from_str("year/month/fname=[b.csv,a.csv]")
    assert _discovered(root, parser) == [
        "2021/12/b.csv",
        "2021/12/a.csv",
        "2022/10/b.csv",
        "2022/10/a.csv",
        "2022/9/b.csv",
        "2022/9/a.csv",
    ]


def test_date_range_generator_order(tmp_path):
    """Generated months in numeric order (9 before 10), and a generated
    day the tree lacks holds nothing."""
    root = _tree(tmp_path / "t", dict.fromkeys([
        "year=2021/month=9/day=28/f.parquet",
        "year=2021/month=9/day=29/f.parquet",
        "year=2021/month=9/day=29/g.parquet",
        "year=2021/month=10/day=1/f.parquet",
        "year=2021/month=10/day=2/f.parquet",
    ], 1))
    parser = DateRangeGenerator.build("2021/09/29", "2021/10/03")
    assert _discovered(root, parser) == [
        "year=2021/month=9/day=29/f.parquet",
        "year=2021/month=9/day=29/g.parquet",
        "year=2021/month=10/day=1/f.parquet",
        "year=2021/month=10/day=2/f.parquet",
    ]


def test_crawl_threads_are_bounded_by_one_pool(tmp_path):
    """A full crawl of a 3 x 12 x 30 tree keeps at most one listing pool
    of 32 threads alive, whatever the fan-out of the levels."""
    root = tmp_path / "t"
    for year in range(2020, 2023):
        for month in range(1, 13):
            for day in range(1, 31):
                leaf = root / f"year={year}" / f"month={month}" / f"day={day}"
                leaf.mkdir(parents=True)
                (leaf / "f.csv").touch()
    live: list[int] = []

    class SamplingFileSystem(LocalFileSystem):
        def ls(self, url):
            live.append(threading.active_count())
            time.sleep(0.002)  # a request's latency, so that listings overlap
            return super().ls(url)

    before = threading.active_count()
    parts = list(discover_partitions(Q_TRUE, AUTO_PARSER, Partition(str(root)), SamplingFileSystem()))
    assert len(parts) == 3 * 12 * 30
    assert len(live) == 1 + 3 + 36 + 1080
    assert max(live) - before <= 32, max(live) - before


def test_file_stats_rows(tmp_path):
    """Per-directory counts and sizes of the visible files: hidden names
    are skipped, ``_key=value`` directories are partitions."""
    root = _tree(tmp_path / "t", {
        "top.parquet": 1,
        "_SUCCESS": 50,
        ".top.parquet.crc": 50,
        "_spark_metadata/0": 50,
        "_src=a/g.parquet": 7,
        "k=1/f1.parquet": 3,
        "k=1/f2.parquet": 5,
        "k=1/_SUCCESS": 50,
        "k=2/j=3/h.parquet": 2,
        "k=2/j=3/.h.parquet.crc": 50,
    })

    class RowsSession:
        def createDataFrame(self, rows, schema):
            return rows, schema

    rows, schema = file_stats(RowsSession(), root)
    assert schema == ["partition", "n_files", "total_bytes", "min_bytes", "max_bytes"]
    assert rows == [
        ("", 1, 1, 1, 1),
        ("_src=a", 1, 7, 7, 7),
        ("k=1", 2, 8, 3, 5),
        ("k=2/j=3", 1, 2, 2, 2),
    ]


def test_file_stats_sizes_files_on_the_listing_pool(tmp_path):
    """Each file's size is a request on an object store: the stat calls run
    on the listing pool, not one by one on the calling thread."""
    root = _tree(tmp_path / "t", {f"k={k}/f{i}.parquet": k + i for k in range(4) for i in range(10)})
    threads: list[str] = []

    class CountingFileSystem(LocalFileSystem):
        def size(self, url):
            threads.append(threading.current_thread().name)
            return super().size(url)

    class RowsSession:
        def createDataFrame(self, rows, schema):
            return rows

    rows = file_stats(RowsSession(), root, fs=CountingFileSystem())
    assert rows == [(f"k={k}", 10, 10 * k + 45, k, k + 9) for k in range(4)]
    assert len(threads) == 40
    assert threading.main_thread().name not in threads
