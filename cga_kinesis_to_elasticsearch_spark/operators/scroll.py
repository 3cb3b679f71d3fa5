"""Scroll / point-in-time export: the bulk-export path older ES
clients use (``scroll``) and its modern replacement (PIT +
``search_after``), re-expressed Spark-first.

- :func:`open_pit` pins a POINT-IN-TIME view of a parquet table: the
  file listing is captured once, so pages served later never see
  concurrent appends (ES's PIT contract). On parquet this is exactly
  a frozen file list — Spark's own resolved-relation behavior, made
  explicit and append-proof.
- :func:`run_scroll` walks the full result set of a ``_search`` body
  in fixed-size pages using the engine's ``search_after`` lowering:
  each page is one filtered TakeOrdered scan (the strict-after cursor
  predicate pushes toward the scan, so page 100 costs the same as
  page 1 — the reason ES itself deprecated scroll in favor of
  search_after). The driver holds only one page of rows at a time
  (the cursor), like any ES scroll client.

Reference context: the reference's indices (main.go:447) are exactly
what reindex/export jobs scroll over.

Pages are DISJOINT and EXHAUSTIVE by construction: the sort is pinned
(body ``sort`` + the engine's ``_doc`` tie-break on the document
identity column), and each page resumes strictly after the previous
page's last (sort keys, _doc) tuple — ties at a page boundary can
never duplicate or skip.

Sliced scroll (``slice: {id, max}`` in the body, ES's parallel-export
form) partitions the document set by identity hash-mod-``max`` so
``max`` independent scrolls cover the export concurrently;
:func:`run_sliced_export` runs all slices and returns one tagged
frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .querydsl import _source_columns, _tiebreak_names, run_search_body

__all__ = [
    "open_pit",
    "run_scroll",
    "run_scroll_union",
    "run_sliced_export",
]


def open_pit(spark: SparkSession, path: str) -> DataFrame:
    """Pin a point-in-time view of the parquet table at ``path``: the
    CURRENT file listing is captured eagerly and later reads resolve
    only those files, so rows appended after the PIT opens are
    invisible to every page served from it."""
    files = spark.read.parquet(path).inputFiles()
    if not files:
        raise ValueError(f"open_pit: no parquet files under {path!r}")
    # basePath keeps hive-style directory-derived partition columns
    # (e.g. the bulk sink's data/es_index=... layout) in the PIT view —
    # a bare leaf-file read would silently drop them
    return spark.read.option("basePath", path).parquet(*files)


def run_scroll(
    df: DataFrame,
    body: dict,
    page_size: int,
    max_pages: int | None = None,
):
    """Iterate the FULL hit set of ``body`` over ``df`` in
    ``page_size`` pages (ES scroll semantics over the search_after
    lowering). Yields one list of Rows per page.

    The body must carry an explicit non-``_score`` ``sort`` (scroll is
    an export path; score-ordered exports would recompute corpus
    statistics per page) and no ``size``/``search_after``/``from`` of
    its own. Every sort key and the ``_doc`` tie-break column must
    survive ``_source`` so the cursor can be read off the last row."""
    sort = body.get("sort")
    if not sort:
        raise ValueError("run_scroll needs an explicit sort")
    for k in ("size", "search_after", "from"):
        if k in body:
            raise ValueError(f"run_scroll drives {k!r} itself: {body}")
    names = []
    for s in sort:
        field = s if isinstance(s, str) else next(iter(s))
        if field in ("_score", "_script"):
            raise ValueError(
                "run_scroll: score/script sorts are not scrollable "
                "(export paths pin a stable document order)"
            )
        names.append(field)
    if any(f in ("doc_id", "id", "event_id", "vec_id") for f in names):
        # the sort already pins document identity — every cursor tuple
        # is unique without an appended _doc tie-break
        tb = []
    else:
        tb = _tiebreak_names(df, names)
        if len(tb) != 1:
            raise ValueError(
                "run_scroll needs a document identity column "
                "(doc_id / id / event_id / vec_id) for the _doc tie-break"
            )
    if "_source" in body:
        # resolve every supported _source form (list / string /
        # wildcard patterns / includes-excludes dict) exactly the way
        # the search path will, then check the cursor columns survive
        kept = _source_columns(df.columns, body["_source"])
        missing = [c for c in (*names, *tb) if c not in kept]
        if missing:
            raise ValueError(
                f"run_scroll: _source must keep the cursor columns {missing}"
            )
    if "slice" in body:
        # ES sliced scroll: {"slice": {"id": i, "max": n[, "field"]}}
        # partitions the export into n disjoint, exhaustive slices so
        # independent clients scroll in parallel. ES hashes _id; any
        # deterministic doc-identity partition satisfies the contract
        # — numeric identity columns take a plain modulo (also
        # oracle-reproducible), strings hash first.
        id_cands = tb or [
            f for f in names
            if f in ("doc_id", "id", "event_id", "vec_id")
        ]
        df = df.filter(_slice_predicate(df, body["slice"], id_cands))
        body = {k: v for k, v in body.items() if k != "slice"}
    cursor = None
    pages = 0
    while True:
        # LOOK-AHEAD row: fetch page_size + 1 so a page that comes back
        # exactly full still reveals whether anything follows — the old
        # exact-size fetch needed one extra (empty) round trip per
        # scroll to discover the end. Pages yielded to the client are
        # bit-identical (the 21st row is only a has-more probe).
        b = {**body, "size": int(page_size) + 1}
        if cursor is not None:
            b["search_after"] = cursor
        rows = run_search_body(df, b).collect()
        if not rows:
            return
        page_rows = rows[: int(page_size)]
        yield page_rows
        pages += 1
        last = page_rows[-1]
        cursor = [last[f] for f in names] + [last[t] for t in tb]
        if len(rows) <= int(page_size):
            return
        if max_pages is not None and pages >= max_pages:
            return


def _slice_predicate(df: DataFrame, spec: dict, id_cands: list[str]):
    """The slice-membership predicate of an ES sliced scroll:
    hash-mod-``max`` (plain modulo for numeric identity columns — ES
    hashes ``_id``, but ANY deterministic disjoint+exhaustive
    partition by document identity satisfies the sliced-scroll
    contract) on ``spec.field`` (default: the _doc tie-break /
    identity column)."""
    from pyspark.sql import functions as F, types as T

    if not isinstance(spec, dict) or "id" not in spec or "max" not in spec:
        raise ValueError(f"slice needs id and max: {spec}")
    i, n = int(spec["id"]), int(spec["max"])
    if n < 2 or not 0 <= i < n:
        raise ValueError(f"slice: need max >= 2 and 0 <= id < max: {spec}")
    field = spec.get("field")
    if field is None:
        if not id_cands:
            raise ValueError(
                "slice: no identity column to slice on — pass "
                f"slice.field explicitly: {spec}"
            )
        field = id_cands[0]
    if field not in df.columns:
        raise ValueError(f"slice: unknown field {field!r}")
    c = F.col(field)
    if isinstance(
        df.schema[field].dataType,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
    ):
        key = F.pmod(c, F.lit(n))
    else:
        key = F.pmod(F.xxhash64(c), F.lit(n))
    return key == F.lit(i)


def run_sliced_export(
    df: DataFrame,
    body: dict,
    page_size: int,
    n_slices: int,
    max_pages: int | None = None,
) -> DataFrame:
    """The whole export as ``n_slices`` parallel sliced scrolls, ONE
    DataFrame tagged (``slice_id``, ``page``): each slice is an
    independent run_scroll with ``slice: {id, max}``, so the slices
    are disjoint, their union is exhaustive, and each is internally
    ordered — the ES sliced-scroll bulk-export pattern, which
    parallelizes the API path instead of paging one cursor
    sequentially. (For raw throughput without the scroll contract,
    sinks/sorted_export.py writes the same partitioning in one job.)

    The slices run CONCURRENTLY from a small driver thread pool —
    they are independent cursors by construction (disjoint document
    sets), which is exactly why ES added sliced scrolls; running them
    sequentially here would serialize N clients' worth of page round
    trips onto one. Spark schedules the overlapping page jobs FIFO,
    so each slice's tail backfills the others' scheduling gaps. The
    result frame is assembled in slice order, so the output is
    byte-identical to the sequential form."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target
    from pyspark.sql import functions as F

    if "slice" in body:
        raise ValueError("run_sliced_export drives slice itself")
    # one shared schema probe (plan-only): every slice's pages share it
    schema = run_search_body(df, {**body, "size": 1}).schema
    n = int(n_slices)

    def one(i: int):
        return run_scroll_union(
            df,
            {**body, "slice": {"id": i, "max": n}},
            page_size,
            max_pages,
            allow_empty=True,
            _schema=schema,
        )

    # one wrapper per slice: each pool task gets its own copy of the
    # caller's job group and local properties
    spark = df.sparkSession
    with ThreadPoolExecutor(max_workers=min(n, 8)) as pool:
        futs = [
            pool.submit(inheritable_thread_target(spark)(one), i)
            for i in range(n)
        ]
        parts = [f.result() for f in futs]
    out = None
    for i, part in enumerate(parts):
        if part is None:
            continue
        part = part.select(
            F.lit(i).cast("long").alias("slice_id"), "*"
        )
        out = part if out is None else out.unionByName(part)
    if out is None:
        raise ValueError("run_sliced_export: empty result set")
    return out


def run_scroll_union(
    df: DataFrame,
    body: dict,
    page_size: int,
    max_pages: int | None = None,
    allow_empty: bool = False,
    _schema=None,
) -> DataFrame | None:
    """All scroll pages as ONE DataFrame tagged with a 1-based
    ``page`` ordinal — the declarable/testable reading of the scroll
    contract (pages disjoint, union exhaustive). ``allow_empty``
    returns None instead of raising on an empty hit set (a sliced
    export's slice may be legitimately empty). ``_schema`` lets a
    caller that already probed the page schema (run_sliced_export —
    one probe shared by all slices) skip the per-union probe plan."""
    from pyspark.sql import functions as F

    spark = df.sparkSession
    out = None
    schema = _schema
    for i, rows in enumerate(run_scroll(df, body, page_size, max_pages),
                             start=1):
        if schema is None:
            probe = run_search_body(df, {**body, "size": 1})
            schema = probe.schema
        # one partition per page: bare createDataFrame parallelizes
        # local rows across defaultParallelism slices, so a 20-row
        # page otherwise becomes 32 near-empty Python-RDD tasks PER
        # PAGE downstream (measured ~1 s of task-launch overhead for
        # a 6-page export at 32 cores; a coalesce(1) instead is far
        # worse — the merged task walks all 32 pickled parent slices
        # through the Python worker serially). A page is by definition
        # one client response, so one partition is the honest layout.
        page = spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 1), schema
        ).select(F.lit(i).cast("long").alias("page"), "*")
        out = page if out is None else out.unionByName(page)
    if out is None:
        if allow_empty:
            return None
        raise ValueError("run_scroll_union: empty result set")
    return out
