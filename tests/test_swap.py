"""Crash-safe swap protocol (sinks/_swap.py): every interruption point
leaves a state recover_and_sweep repairs to the last durable content,
for all three consumers (sketchmaint, rollup, compaction)."""

from __future__ import annotations

import ast
from pathlib import Path

from pyspark.sql import functions as F

import cga_kinesis_to_elasticsearch_spark.sinks as sinks_pkg
from cga_kinesis_to_elasticsearch_spark.sinks._swap import (
    part_paths,
    recover_and_sweep,
    swap_in,
)


def _mkdirs(root, *names):
    for n in names:
        (root / n).mkdir(parents=True)
        (root / n / "part-0.parquet").write_text(n)


class TestRecoverAndSweep:
    def test_orphan_tmp_removed(self, tmp_path):
        _mkdirs(tmp_path, ".tmp-day=2024-01-01")
        assert recover_and_sweep(tmp_path) == []
        assert list(tmp_path.iterdir()) == []

    def test_superseded_old_removed(self, tmp_path):
        _mkdirs(tmp_path, "day=2024-01-01", ".old-day=2024-01-01")
        assert recover_and_sweep(tmp_path) == []
        assert [p.name for p in tmp_path.iterdir()] == ["day=2024-01-01"]
        # final (the newer content) survived, stale old did not
        assert (
            tmp_path / "day=2024-01-01" / "part-0.parquet"
        ).read_text() == "day=2024-01-01"

    def test_interrupted_swap_renamed_back(self, tmp_path):
        # crash between step 2 (final -> old) and step 3 (tmp -> final):
        # both tmp and old exist, final missing
        _mkdirs(tmp_path, ".old-day=2024-01-01", ".tmp-day=2024-01-01")
        assert recover_and_sweep(tmp_path) == ["day=2024-01-01"]
        final = tmp_path / "day=2024-01-01"
        assert [p.name for p in tmp_path.iterdir()] == [final.name]
        assert (final / "part-0.parquet").read_text() == ".old-day=2024-01-01"

    def test_missing_root_noop(self, tmp_path):
        assert recover_and_sweep(tmp_path / "nope") == []


class TestSwapIn:
    def test_promotes_tmp_and_drops_old(self, tmp_path):
        final, tmp, old = part_paths(tmp_path, "day=d")
        _mkdirs(tmp_path, "day=d", ".tmp-day=d")
        swap_in(tmp_path, "day=d")
        assert (final / "part-0.parquet").read_text() == ".tmp-day=d"
        assert not tmp.exists() and not old.exists()

    def test_stale_old_from_prior_crash_cleared(self, tmp_path):
        # crash between steps 3 and 4 left final + old; next swap must
        # not trip over the stale old dir
        final, _, old = part_paths(tmp_path, "day=d")
        _mkdirs(tmp_path, "day=d", ".old-day=d", ".tmp-day=d")
        swap_in(tmp_path, "day=d")
        assert (final / "part-0.parquet").read_text() == ".tmp-day=d"
        assert not old.exists()


class TestSketchCrashRecovery:
    def test_interrupted_swap_does_not_lose_accumulated_sketch(
        self, spark, tmp_path
    ):
        from cga_kinesis_to_elasticsearch_spark.sinks.sketchmaint import (
            read_day_sketches,
            refresh_day_sketches,
        )

        root = tmp_path / "sk"
        b1 = spark.createDataFrame(
            [("2024-01-01", "a"), ("2024-01-01", "b")],
            "event_date string, uid string",
        )
        refresh_day_sketches(spark, b1, root, "event_date", "uid")
        # simulate the crash window: final renamed away, new never landed
        final, _, old = part_paths(root, "event_date=2024-01-01")
        final.rename(old)
        b2 = spark.createDataFrame(
            [("2024-01-01", "c")], "event_date string, uid string"
        )
        refresh_day_sketches(spark, b2, root, "event_date", "uid")
        got = {
            r.day: r.distinct_est
            for r in read_day_sketches(spark, root, "event_date").collect()
        }
        # {a,b} recovered from the interrupted swap, then c merged in
        assert got == {"2024-01-01": 3}

    def test_null_day_rows_filtered(self, spark, tmp_path):
        from cga_kinesis_to_elasticsearch_spark.sinks.sketchmaint import (
            refresh_day_sketches,
        )

        root = tmp_path / "sk"
        b = spark.createDataFrame(
            [("2024-01-01", "a"), (None, "b")], "event_date string, uid string"
        )
        assert refresh_day_sketches(spark, b, root, "event_date", "uid") == 1
        assert [p.name for p in root.iterdir()] == ["event_date=2024-01-01"]

    def test_dotted_day_col_roundtrip(self, spark, tmp_path):
        from cga_kinesis_to_elasticsearch_spark.sinks.sketchmaint import (
            read_day_sketches,
            refresh_day_sketches,
        )

        root = tmp_path / "sk"
        b = spark.createDataFrame(
            [("2024-01-01", "a")], "`@cf.day` string, uid string"
        )
        refresh_day_sketches(spark, b, root, "@cf.day", "uid")
        got = read_day_sketches(spark, root, "@cf.day").collect()
        assert [(r.day, r.distinct_est) for r in got] == [("2024-01-01", 1)]


class TestRollupCrashRecovery:
    def test_interrupted_swap_recovered_then_recomputed(self, spark, tmp_path):
        from cga_kinesis_to_elasticsearch_spark.sinks.rollup import (
            refresh_rollup,
        )

        facts = tmp_path / "facts"
        rollup = tmp_path / "rollup"
        df = spark.createDataFrame(
            [("2024-01-01", "view", 1.0), ("2024-01-02", "click", 2.0)],
            "event_date string, event_type string, value double",
        )
        df.write.partitionBy("event_date").parquet(str(facts))

        def agg(day):
            return day.groupBy("event_type").agg(F.count("*").alias("n"))

        refresh_rollup(spark, facts, rollup, ["2024-01-01", "2024-01-02"], agg)
        # crash window on day 1; day 2 untouched by the next batch
        final, _, old = part_paths(rollup, "event_date=2024-01-01")
        final.rename(old)
        refresh_rollup(spark, facts, rollup, ["2024-01-02"], agg)
        out = spark.read.parquet(str(rollup))
        days = {
            r.event_date
            for r in out.select(
                F.col("event_date").cast("string").alias("event_date")
            ).collect()
        }
        # day 1's last durable rollup came back even though the batch
        # didn't touch it
        assert days == {"2024-01-01", "2024-01-02"}


class TestCompactionCrashRecovery:
    def test_interrupted_swap_restores_fact_partition(self, spark, tmp_path):
        from cga_kinesis_to_elasticsearch_spark.sinks.compact import (
            compact_index,
        )

        root = tmp_path / "data"
        df = spark.createDataFrame(
            [("a-2024-01-01", i, f"m{i}") for i in range(20)],
            "es_index string, event_id long, msg string",
        )
        df.repartition(8).write.partitionBy("es_index").parquet(str(root))
        # simulate a crash that swapped the partition out mid-compaction
        final, _, old = part_paths(root, "es_index=a-2024-01-01")
        final.rename(old)
        stats = compact_index(spark, root, target_file_bytes=1 << 30)
        assert final.exists()
        assert spark.read.parquet(str(final)).count() == 20
        assert stats.partitions_examined == 1


class TestCompactionClustering:
    def test_cluster_by_sorts_within_files(self, spark, tmp_path):
        from cga_kinesis_to_elasticsearch_spark.sinks.compact import (
            compact_index,
        )

        root = tmp_path / "data"
        df = spark.createDataFrame(
            [("a-2024-01-01", (i * 37) % 100, i) for i in range(200)],
            "es_index string, app long, event_id long",
        )
        df.repartition(8).write.partitionBy("es_index").parquet(str(root))
        stats = compact_index(
            spark, root, target_file_bytes=1 << 30, cluster_by=("app",)
        )
        assert stats.partitions_compacted == 1 and stats.files_after == 1
        import pyarrow.parquet as pq

        part = root / "es_index=a-2024-01-01"
        f = next(p for p in part.iterdir() if p.suffix == ".parquet")
        vals = pq.read_table(str(f), columns=["app"])["app"].to_pylist()
        assert vals == sorted(vals)
        assert (
            spark.read.parquet(str(part)).agg({"event_id": "count"}).first()[0]
            == 200
        )


def _swap_protocol_uses(src: str) -> list[tuple[int, str]]:
    """(line, what) for each call of the swap steps and each ``.tmp-``
    string built in code (docstrings excluded) in a module's source."""
    tree = ast.parse(src)
    docstrings = {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        )
        and node.body
        and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
    }
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", "")
            if name in ("swap_in", "promote_staged"):
                found.append((node.lineno, f"calls {name}"))
        elif (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and ".tmp-" in node.value
            and id(node) not in docstrings
        ):
            found.append((node.lineno, "builds a .tmp- path"))
    return found


class TestOneWayIntoTheProtocol:
    def test_guard_sees_each_kind_of_use(self):
        src = (
            '"""doc names .tmp-x"""\n'
            "swap_in(root, p)\n"
            "_swap.promote_staged(root, t, c, {})\n"
            "t = root / f'.tmp-{p}'\n"
        )
        assert [w for _, w in _swap_protocol_uses(src)] == [
            "calls swap_in",
            "calls promote_staged",
            "builds a .tmp- path",
        ]

    def test_only_swap_module_stages_or_swaps(self):
        """Every sink commits through _swap.write_swapped or
        _swap.write_partitions_swapped: no other module under sinks/
        calls the swap steps or names a staging dir itself."""
        offenders = [
            f"{path.name}:{line} {what}"
            for path in sorted(Path(sinks_pkg.__file__).parent.glob("*.py"))
            if path.name != "_swap.py"
            for line, what in _swap_protocol_uses(path.read_text())
        ]
        assert offenders == []
