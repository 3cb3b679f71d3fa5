"""Stream -> dimension enrichment join (SURVEY §2.4 J1-J6).

The reference resolves app metadata per record through a TTL'd
lazy-fill cache over the CF API (caching_lazyfill.go:241-265 GetApp;
main.go:331-349 augmentWithAppInfo). In Spark the whole call tree
becomes: pre-flatten apps ⋈ spaces ⋈ orgs into ONE denormalized
dimension snapshot, then a single **broadcast left-outer join** in the
stream — per-row remote I/O disappears, and the hot path stays
shuffle-free at any scale (the dim is small; the fact side never
moves).

Observable semantics reproduced:
- guid canonicalization by lowercase (uuid.FromString().String(),
  caching_lazyfill.go:88-93); join key is (env, lower(guid));
- app-name suffix strip, apps only, first matching suffix of
  [-venerable, -blue, -green] (caching_lazyfill.go:143-150, list
  main.go:104);
- IgnoreMissingApps=true (main.go:103): unknown/missing app, space or
  org degrade to EMPTY STRINGS, record still flows
  (caching_lazyfill.go:111-118, 219-239);
- unknown origin (env not in allowed list): enrichment columns are
  NULL — the reference logs and skips augmentation entirely
  (main.go:79-109, 418/423 "ignoring:");
- output columns @cf.app @cf.app_id @cf.space @cf.space_id @cf.org
  @cf.org_id (main.go:341-346); @cf.app_id carries the original,
  un-canonicalized guid (GetApp returns `Guid: appGuid`,
  caching_lazyfill.go:256);
- opt-out flag F6: environment_json["F2S_DISABLE_LOGGING"]=="true",
  computed on the dimension, never consulted (caching_lazyfill.go:21-23).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.functions import broadcast

__all__ = ["strip_app_suffixes", "flatten_dimensions", "compile_enrich"]

APP_NAME_SUFFIXES = ("-venerable", "-blue", "-green")  # main.go:104

ENRICH_COLS = (
    "@cf.app",
    "@cf.app_id",
    "@cf.space",
    "@cf.space_id",
    "@cf.org",
    "@cf.org_id",
)


def strip_app_suffixes(name: Column) -> Column:
    """First matching suffix of the list is stripped, once
    (caching_lazyfill.go:143-150 breaks after the first hit)."""
    out = name
    stripped_already = F.lit(False)
    for s in APP_NAME_SUFFIXES:
        hit = name.endswith(s)
        out = F.when(
            ~stripped_already & hit,
            name.substr(F.lit(1), F.length(name) - F.lit(len(s))),
        ).otherwise(out)
        stripped_already = stripped_already | hit
    return out


def flatten_dimensions(
    apps: DataFrame, spaces: DataFrame, orgs: DataFrame
) -> DataFrame:
    """Snowflake apps -> spaces -> orgs (J2), pre-flattened into one
    dimension with left-outer tolerance at each hop. Columns:
    (env, guid_lc, app_name, space_guid, space_name, org_guid,
    org_name, ignored_app).

    Cost model: dimensions are CF-API snapshots — thousands of rows.
    The double join here runs once per refresh on tiny data; broadcast
    of the result replaces per-record cache lookups (J5/J6).
    """
    a = apps.select(
        F.col("env"),
        F.lower("guid").alias("guid_lc"),
        strip_app_suffixes(F.col("name")).alias("app_name"),
        F.coalesce(F.col("space_guid"), F.lit("")).alias("space_guid"),
        (
            F.coalesce(F.col("environment")["F2S_DISABLE_LOGGING"], F.lit(""))
            == "true"
        ).alias("ignored_app"),
    )
    s = spaces.select(
        F.col("env").alias("s_env"),
        F.lower("guid").alias("s_guid_lc"),
        F.col("name").alias("space_name"),
        F.coalesce(F.col("organization_guid"), F.lit("")).alias("org_guid"),
    )
    o = orgs.select(
        F.col("env").alias("o_env"),
        F.lower("guid").alias("o_guid_lc"),
        F.col("name").alias("org_name"),
    )
    dim = (
        a.join(
            broadcast(s),
            (a["env"] == s["s_env"]) & (F.lower(a["space_guid"]) == s["s_guid_lc"]),
            "left",
        )
        .join(
            broadcast(o),
            (F.col("env") == o["o_env"])
            & (F.lower(F.col("org_guid")) == o["o_guid_lc"]),
            "left",
        )
        .select(
            "env",
            "guid_lc",
            F.coalesce("app_name", F.lit("")).alias("app_name"),
            "space_guid",
            F.coalesce("space_name", F.lit("")).alias("space_name"),
            F.coalesce("org_guid", F.lit("")).alias("org_guid"),
            F.coalesce("org_name", F.lit("")).alias("org_name"),
            "ignored_app",
        )
    )
    return dim


def compile_enrich(
    allowed_origins: list[str], app_guid: Column | None = None
) -> tuple[Callable[[DataFrame, DataFrame], DataFrame], dict[str, Column]]:
    """J1: the broadcast left-outer equi join adding the six @cf.*
    columns, every Column built here, once. ``join(stream, dim)`` only
    issues the join (a stream joins a fresh dimension snapshot every
    micro-batch, under one unchanged set of expressions); the six
    @cf.* columns by name read its output, and the caller selects them
    in its own final projection (pipeline.compile_pipeline), which
    also leaves the dimension's columns behind.

    ``app_guid`` defaults to coalesce(log_message.app_id, '') — pass
    coalesce with the rtr_app_id capture when the ROUTERACCESS route is
    live (key choice, main.go:414-424)."""
    if app_guid is None:
        app_guid = F.coalesce(F.col("log_message.app_id"), F.lit(""))
    origin_known = F.col("origin").isin(list(allowed_origins))
    on = (F.col("origin") == F.col("__dim_env")) & (
        F.lower(app_guid) == F.col("guid_lc")
    )

    def tolerated(col: str) -> Column:
        # known origin: missing dim row degrades to '' (J3);
        # unknown origin: NULL (enrichment skipped entirely, J4)
        return F.when(origin_known, F.coalesce(F.col(col), F.lit("")))

    cols = {
        "@cf.app": tolerated("app_name"),
        "@cf.app_id": F.when(origin_known, app_guid),
        "@cf.space": tolerated("space_name"),
        "@cf.space_id": tolerated("space_guid"),
        "@cf.org": tolerated("org_name"),
        "@cf.org_id": tolerated("org_guid"),
    }

    def join(stream: DataFrame, dim: DataFrame) -> DataFrame:
        renamed = dim.withColumnRenamed("env", "__dim_env")
        return stream.join(broadcast(renamed), on, "left")

    return join, cols
