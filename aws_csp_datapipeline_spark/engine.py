"""CspToolsEngine — the reference's API surface as a library facade.

Maps the four Lambda routes (lambda/lambda_function.py:15-18) onto the
operator library, one DataFrame job per call instead of
submit/poll/paginate round-trips (SURVEY.md §3):

- ``get_tools([s_no|login])``  ← GET  /getTools        (:932-968)
- ``create_tool(record)``      ← POST /createTool      (:1004-1018)
- ``update_tool(s_no, rec)``   ← POST /updateTool      (:1040-1044)
- ``delete_tool(s_no)``        ← POST /deleteTool      (:1029-1035)

State is a snapshot DataFrame; every mutation returns a NEW engine
wrapping the post-state (persist-where-you-like). A mutation's
post-state is the pre-state plus literals the call has already
computed: ``create_tool`` assigns its key eagerly, and the ``s_no`` in
its 201 is the key stored in the appended row. No later read
re-derives it, and no engine plan has a Python-evaluated
(``LogicalRDD``) leaf. Status envelopes (200/201/400/404) become
typed results. The wide ``csp_tools`` schema follows FIXTURES.md §F-A
/ sql/ddl_create_tables.sql:3-26.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aws_csp_datapipeline_spark.operators import crud as M
from aws_csp_datapipeline_spark.operators import relational as R

CSP_TOOLS_SCHEMA = T.StructType(
    [
        T.StructField("s_no", T.LongType(), False),
        T.StructField("team_name", T.StringType()),
        T.StructField("tool_name", T.StringType(), False),
        T.StructField("description", T.StringType()),
        T.StructField("tool_script", T.StringType()),
        T.StructField("created_date", T.StringType()),
        T.StructField("active_inactive", T.StringType()),
        T.StructField("can_be_reused_across_csp_teams", T.StringType()),
        T.StructField("login", T.StringType()),
        T.StructField("is_display", T.BooleanType(), False),
    ]
)


@dataclass
class MutationResult:
    """Typed stand-in for the reference's HTTP envelopes."""

    status: int  # 200/201/400/404 per the reference's codes
    engine: "CspToolsEngine"
    s_no: int | None = None
    message: str = ""


def _literal_rows(spark: SparkSession, n: int, values: dict) -> DataFrame:
    """``n`` (0 or 1) rows of ``CSP_TOOLS_SCHEMA`` built from JVM
    literals; fields missing from ``values`` are NULL."""
    return spark.range(n, numPartitions=1).select(
        *[
            F.lit(values.get(f.name)).cast(f.dataType).alias(f.name)
            for f in CSP_TOOLS_SCHEMA
        ]
    )


class CspToolsEngine:
    def __init__(self, spark: SparkSession, table: DataFrame | None = None):
        self.spark = spark
        self.table = table if table is not None else _literal_rows(spark, 0, {})

    # ------------------------------------------------------------ reads

    def get_tools(self, s_no: int | None = None, login: str | None = None) -> DataFrame:
        """Read path: visibility filter always applies
        (lambda_function.py:31, 693, 773); optional key predicates
        mirror the query-param dispatch (:935-958)."""
        out = R.visible(self.table)
        if s_no is not None:
            out = R.point_lookup(out, "s_no", s_no)
        if login is not None:
            out = R.filter_eq(out, "login", login)
        return out

    def total_count(self) -> int:
        """The envelope's total_count (lambda_function.py:98)."""
        return R.visible(self.table).count()

    def get_tools_envelope(
        self,
        s_no: int | None = None,
        login: str | None = None,
        limit: int | None = 150,
        allow_full_collect: bool = False,
        order_by: str | list[str] | None = "s_no",
    ) -> str:
        """The GET route's actual response shape: the
        ``{total_count, records}`` JSON envelope
        (lambda_function.py:96-102) over the visibility-filtered read.

        End-to-end misuse guard: the default collects at most
        ``limit`` records (the reference's interactive cap is
        LIMIT 150, sql/ddl_create_tables.sql:36) while total_count
        stays distributed; asking for ``limit=None`` without
        ``allow_full_collect=True`` raises — the facade never ships
        an unbounded result to the driver by accident
        (tests/test_engine_crud.py golden). ``order_by`` defaults to
        s_no so a capped envelope is the deterministic ordered prefix
        (the reference's interactive queries ORDER BY s_no,
        sql/ddl_create_tables.sql:71-72)."""
        from aws_csp_datapipeline_spark.sources.sinks import json_envelope

        return json_envelope(
            self.get_tools(s_no=s_no, login=login),
            limit=limit,
            allow_full_collect=allow_full_collect,
            order_by=order_by,
        )

    def summary(self) -> tuple:
        """MIN/MAX/count sanity triple (sql/ddl_create_tables.sql:64)
        over ALL rows (soft-deleted included, as in the reference)."""
        row = R.summary_stats(self.table, "s_no").head()
        return (row["min_val"], row["max_val"], row["n_rows"])

    # ---------------------------------------------------------- mutations

    def create_tool(self, record: dict) -> MutationResult:
        """Insert with uniqueness guard + serial key: duplicate
        tool_name → 400 (check_And_Insert, lambda_function.py:342-352);
        else s_no = COALESCE(MAX,0)+1 — soft-deleted rows still count
        toward MAX (:269-271) — and 201 with the assigned key. One
        aggregate action computes both the key and the duplicate probe;
        the post-state appends the new row as literals."""
        name = record.get("tool_name")
        if name is None:
            raise ValueError("create_tool: record needs a non-null tool_name")
        probe = self.table.agg(
            (F.coalesce(F.max("s_no"), F.lit(0)) + 1).alias("next_key"),
            F.bool_or(F.col("tool_name") == F.lit(name)).alias("exists"),
        ).head()
        if probe["exists"]:
            return MutationResult(400, self, message="tool_name already exists")
        key = int(probe["next_key"])
        new_row = _literal_rows(
            self.spark, 1, {**record, "s_no": key, "is_display": True}
        )
        return MutationResult(
            201, CspToolsEngine(self.spark, self.table.unionByName(new_row)), s_no=key
        )

    def update_tool(self, s_no: int, updates: dict) -> MutationResult:
        """Guarded keyed update: absent key → 404 (check_And_Update,
        lambda_function.py:468-475); else only the provided fields
        change (:412-421)."""
        if not self._key_exists(s_no):
            return MutationResult(404, self, message=f"s_no {s_no} not found")
        out = M.update_by_key(self.table, "s_no", s_no, updates)
        return MutationResult(200, CspToolsEngine(self.spark, out), s_no=s_no)

    def delete_tool(self, s_no: int, hard: bool = False) -> MutationResult:
        """Guarded delete: soft by default (is_display=FALSE,
        soft_delete_tool :553-557), hard as the analyst path
        (sql/ddl_create_tables.sql:61-62)."""
        if not self._key_exists(s_no):
            return MutationResult(404, self, message=f"s_no {s_no} not found")
        out = (
            M.hard_delete(self.table, "s_no", s_no)
            if hard
            else M.soft_delete(self.table, "s_no", s_no)
        )
        return MutationResult(200, CspToolsEngine(self.spark, out), s_no=s_no)

    def _key_exists(self, s_no: int) -> bool:
        return self.table.filter(F.col("s_no") == s_no).limit(1).count() > 0

    # ---------------------------------------------------------- analytics

    def dashboard(self) -> dict[str, DataFrame]:
        """The QuickSight dashboard's five datasets
        (quicksight/Quicksight Dashboard.png; README.md:87-90), over
        visible rows only:

        1. count by tool_script (pie)
        2. count of tools by team (pie)
        3. count by can_be_reused flag (pie, case drift preserved as
           the dashboard shows all four spellings as distinct groups)
        4. team × active_inactive counts (grouped bar → pivot)
        5. the 6-column detail table projection
        """
        v = R.visible(self.table)
        return {
            "by_tool_script": R.group_count(v, ["tool_script"]),
            "by_team": R.group_count(v, ["team_name"]),
            "by_reused": R.group_count(v, ["can_be_reused_across_csp_teams"]),
            "team_by_active": R.pivot_count(
                v, "team_name", "active_inactive", ["Active", "Inactive"]
            ).na.fill(0, ["Active", "Inactive"]),
            "detail": v.select(
                "s_no", "team_name", "tool_name", "active_inactive",
                "created_date", "can_be_reused_across_csp_teams",
            ),
        }
