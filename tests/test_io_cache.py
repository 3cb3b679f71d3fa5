"""The resolved-table memo (io.py): a frame is reused exactly while the
file listing of its path is unchanged, whatever the path, so a
same-application rewrite can never serve a stale file listing and no
path has to be declared immutable."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from cga_kinesis_to_elasticsearch_spark import io as eio


def _write_file(path, n):
    pq.write_table(pa.table({"id": list(range(n))}), str(path))


class TestDfCacheGating:
    def test_unchanged_table_returns_same_frame(self, spark, tmp_path):
        _write_file(tmp_path / "t.parquet", 3)
        df1 = eio.load_table(spark, str(tmp_path), "t")
        df2 = eio.load_table(spark, str(tmp_path), "t")
        assert df2 is df1  # memoized resolved plan
        assert df2.count() == 3

    def test_rewrite_in_place_is_resolved_again(self, spark, tmp_path):
        path = tmp_path / "t.parquet"
        _write_file(path, 3)
        df1 = eio.load_table(spark, str(tmp_path), "t")
        assert df1.count() == 3
        # rewrite in place, no invalidation call: the changed listing
        # alone makes the next load resolve the file again
        _write_file(path, 5)
        df2 = eio.load_table(spark, str(tmp_path), "t")
        assert df2 is not df1
        assert df2.count() == 5

    def test_directory_listing_skips_hidden_names(self, spark, tmp_path):
        table = tmp_path / "t.parquet"
        table.mkdir()
        _write_file(table / "part-0.parquet", 2)
        df1 = eio.load_table(spark, str(tmp_path), "t")
        # names Spark does not read are not part of the listing
        (table / "_SUCCESS").touch()
        (table / ".part-0.parquet.crc").touch()
        assert eio.load_table(spark, str(tmp_path), "t") is df1
        _write_file(table / "part-1.parquet", 4)
        df2 = eio.load_table(spark, str(tmp_path), "t")
        assert df2 is not df1
        assert df2.count() == 6

    def test_testdata_root_still_cached(self, spark):
        df1 = eio.load_table(spark, "/root/testdata/sf0.001", "region")
        df2 = eio.load_table(spark, "/root/testdata/sf0.001", "region")
        assert df2 is df1
