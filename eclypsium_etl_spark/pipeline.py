"""The reference's flagship ETL pipeline, Spark-first.

The reference (mercadolibre_pipeline_dag.py) runs five Airflow tasks:
extract → load → query → short-circuit gate → render+email. Here the
whole thing is ONE lazy Catalyst plan with a single ``isEmpty()`` action
as the gate (q52) and a sink write — no per-task materialization, no XCom
handoffs (SURVEY.md §3).

Pipeline shape (exercises q01, q07, q08, q42, q44, q04, q52, q06):

    scan lineitem (parquet, pruned to 4 cols)
      → filter l_extendedprice * l_quantity >= T        (flagship predicate, ref :75)
      → project + date_format(l_shipdate, 'dd-MM-yyyy') (ref TO_CHAR, :75)
      → non-empty gate                                   (ref ShortCircuitOperator, :131-138)
      → overwrite-mode parquet sink                      (ref to_sql replace, :65)
      → (optional) HTML report of top rows               (ref Jinja render, :96-127)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from .io import scratch_path, sink_overwrite, table
from .registry import query

FLAGSHIP_THRESHOLD = 4_000_000.0

_REPORT_HEADER = (
    "<html><body><h3>High volume sales</h3><table>"
    "<tr><th>order</th><th>line</th><th>revenue</th><th>ship date</th></tr>"
)
_REPORT_FOOTER = "</table></body></html>"


def flagship(spark: SparkSession, sf_dir: str, threshold: float = FLAGSHIP_THRESHOLD) -> DataFrame:
    """The flagship query: scan → theta filter → project + date format."""
    li = table(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * F.col("l_quantity")
    return (
        li.filter(revenue >= threshold)
        .select(
            "l_orderkey",
            "l_linenumber",
            revenue.alias("revenue"),
            F.date_format("l_shipdate", "dd-MM-yyyy").alias("ship_str"),
        )
    )


def render_report(df: DataFrame, max_rows: int = 50) -> str | None:
    """Assemble the HTML report document from a *small* result (q06).

    Row HTML is built JVM-side (concat/codegen); only the bounded top rows
    cross to the driver — the 100 TB-safe version of the reference's
    row-wise Jinja loop."""
    rows = (
        df.orderBy(F.desc("revenue"), F.asc("l_orderkey"), F.asc("l_linenumber"))
        .limit(max_rows)
        .select(
            F.concat(
                F.lit("<tr><td>"), F.col("l_orderkey").cast("string"),
                F.lit("</td><td>"), F.col("l_linenumber").cast("string"),
                F.lit("</td><td>"), F.col("revenue").cast("decimal(18,2)").cast("string"),
                F.lit("</td><td>"), F.col("ship_str"), F.lit("</td></tr>"),
            ).alias("row_html")
        )
        .collect()
    )
    if not rows:
        return None
    return _REPORT_HEADER + "".join(r.row_html for r in rows) + _REPORT_FOOTER


def run_gated_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    threshold: float = FLAGSHIP_THRESHOLD,
    delivery: "ReportDelivery | None" = None,
) -> dict:
    """End-to-end run with the short-circuit gate (q52).

    The reference returns None from the query task on an empty result and a
    ShortCircuitOperator skips everything downstream (reference :84-87,
    :131-138, README.md:44-49). Spark-first: one ``isEmpty()`` action
    gates the sink + report; nothing downstream runs on an empty result.
    """
    df = flagship(spark, sf_dir, threshold)
    if df.isEmpty():
        return {"gate_open": False, "rows_written": 0, "report": None,
                "receipt": None}
    sink_overwrite(df, out_path)
    report = render_report(df)
    rows = spark.read.parquet(out_path).count()
    receipt = None
    if delivery is not None and report is not None:
        receipt = delivery.send("High volume sales", report)
    return {"gate_open": True, "rows_written": rows, "report": report,
            "receipt": receipt}


class ReportDelivery:
    """Delivery boundary for the rendered report (the reference emails the
    HTML via an Airflow EmailOperator over SendGrid,
    mercadolibre_pipeline_dag.py:171-177, sendgrid_email_operator.py:7-21).

    The engine's scope ends at a rendered document + a delivery interface;
    transports (SMTP, SendGrid, webhook) plug in behind ``send``. The
    default implementation stages the document to a file — the landing-zone
    symmetric of io.fetch_to_landing, and what a scheduler's delivery task
    would pick up."""

    def __init__(self, out_dir: str):
        self.out_dir = out_dir

    def send(self, subject: str, html: str) -> str:
        """Deliver one report; returns a delivery receipt (here: the staged
        path). Transport subclasses override this."""
        import os
        import re

        os.makedirs(self.out_dir, exist_ok=True)
        slug = re.sub(r"[^A-Za-z0-9]+", "_", subject).strip("_").lower()
        path = os.path.join(self.out_dir, f"{slug}.html")
        tmp = path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write(html)
        os.replace(tmp, path)
        return path


def extract_products(
    spark: SparkSession, categories_path: str, searches_path: str,
    load_ts: str = "2026-01-01 00:00:00",
) -> DataFrame:
    """The reference's EP1 extraction (mercadolibre_pipeline_dag.py:18-59)
    re-expressed as a parallel source read: the categories payload is a
    JSON array of {id} objects (:23), each search payload an object whose
    "results" key holds product objects (:33). The reference loops
    categories serially over HTTP and appends rows (:44-45); here all
    payload files are one schema'd read, results are exploded, and the
    7-column products frame (:50-59) comes out as a single lazy plan —
    semi-joined to categories so only requested categories survive.

    created_date is a parameter, not datetime.now() (:57) — checked runs
    must be deterministic (SURVEY §5.2.1)."""
    from pyspark.sql import types as T

    cat_schema = T.StructType([T.StructField("id", T.StringType())])
    product = T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("site_id", T.StringType()),
            T.StructField("title", T.StringType()),
            T.StructField("price", T.DoubleType()),
            T.StructField("sold_quantity", T.LongType()),
            T.StructField("thumbnail", T.StringType()),
        ]
    )
    search_schema = T.StructType(
        [
            T.StructField("category_id", T.StringType()),
            T.StructField("results", T.ArrayType(product)),
        ]
    )
    from .io import read_json

    categories = read_json(spark, categories_path, cat_schema)
    searches = read_json(spark, searches_path, search_schema)
    exploded = searches.join(
        categories, searches.category_id == categories.id, "left_semi"
    ).select(F.explode("results").alias("p"))
    return exploded.select(
        F.col("p.id").alias("id"),
        F.col("p.site_id").alias("site_id"),
        F.col("p.title").alias("title"),
        F.col("p.price").alias("price"),
        F.col("p.sold_quantity").alias("sold_quantity"),
        F.col("p.thumbnail").alias("thumbnail"),
        F.lit(load_ts).cast("timestamp").alias("created_date"),
    )


@query("q52_shortcircuit_gate")  # no-oracle: control flow (SURVEY §2.9)
def q52_shortcircuit_gate(spark, sf_dir) -> DataFrame:
    """Predicate-polarity test of the gate, mirroring the reference author's
    manual test (flip the predicate so the result is empty and observe the
    skip, README.md:57-61): run the gated pipeline once with an
    impossibly-high threshold (gate must close) and once with the real one
    (gate must open), and return both outcomes."""
    df = flagship(spark, sf_dir, FLAGSHIP_THRESHOLD)
    # ONE scan answers both gates: the impossible threshold (1e18) is a
    # strict superset predicate of the real one, so its gate count is a
    # conditional aggregate over the same filtered scan — the two-pipeline
    # version re-scanned lineitem just to observe isEmpty() on the closed
    # polarity.
    counts = df.agg(
        F.count("*").alias("n_open"),
        F.count(F.when(F.col("revenue") >= 1e18, 1)).alias("n_closed"),
    ).collect()[0]
    closed_open = bool(counts.n_closed > 0)
    opened_open = bool(counts.n_open > 0)
    rows_written = 0
    if opened_open:  # the gate: nothing downstream runs when shut
        sink_overwrite(df, scratch_path("q52_open"))
        render_report(df)
        rows_written = int(counts.n_open)
    return spark.createDataFrame(
        [
            ("high_threshold", closed_open, 0),
            ("low_threshold", opened_open, rows_written),
        ],
        "polarity string, gate_open boolean, rows_written long",
    )
