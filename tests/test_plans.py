"""Physical-plan properties: pushdown, pruning, broadcast, no row-Python.

These are the engine's 100-TB claims made assertable: a regression that stops
a filter reaching the scan, widens a scan, or drops a Python round-trip into
a scalar pipeline fails here, not in production.
"""

from pyspark.sql import functions as F

from gh_crawler_spark.functions.urls import canonicalize_url_expr, url_hash_expr
from gh_crawler_spark.plans.inspect import (
    explain_str,
    pushed_filters,
    python_eval_nodes,
    read_schemas,
    row_python_eval_nodes,
    uses_broadcast_join,
)
from gh_crawler_spark.queries import (
    q_f1_priority_filter,
    q_frontier_pipeline,
    q_j1_seen_anti_join,
    q_j9_lookup_join,
    q_td_text_analysis,
    q_x5_canonicalize,
)

SF = "/root/testdata/sf0.001"


def test_filter_pushed_to_scan(spark):
    df = q_f1_priority_filter(spark, SF)
    pf = pushed_filters(df)
    assert "o_totalprice" in pf and "GreaterThanOrEqual" in pf


def test_column_pruning(spark):
    df = q_f1_priority_filter(spark, SF)
    schemas = read_schemas(df)
    assert len(schemas) == 1
    # only the 3 projected columns are read, not the full orders schema
    assert "o_orderdate" not in schemas[0] and "o_orderpriority" not in schemas[0]
    assert "o_totalprice" in schemas[0]


def test_small_dim_broadcasts(spark):
    assert uses_broadcast_join(q_j9_lookup_join(spark, SF))


def test_anti_join_no_python(spark):
    df = q_j1_seen_anti_join(spark, SF)
    assert python_eval_nodes(df) == 0


def test_canonicalizer_is_jvm_only(spark):
    """The canonical-form pipeline (X5) and hashing (X16) must be pure column
    expressions — zero Python evaluation nodes, so they run inside codegen."""
    df = q_x5_canonicalize(spark, SF)
    assert python_eval_nodes(df) == 0
    hashed = df.select(url_hash_expr(F.col("canonical_url")))
    assert python_eval_nodes(hashed) == 0


def test_text_analysis_is_jvm_only(spark):
    assert python_eval_nodes(q_td_text_analysis(spark, SF)) == 0


def test_frontier_pipeline_plan_shape(spark):
    df = q_frontier_pipeline(spark, SF)
    s = explain_str(df)
    assert "Window" in s
    assert python_eval_nodes(df) == 0


def test_transitions_latest_broadcasts_under_bound(spark, tmp_path):
    """Round-4: the per-round eligibility join broadcasts the transitions
    latest-wins view by EXPLICIT hint while the driver-tracked delta row
    count is under BROADCAST_TRANSITIONS_MAX_ROWS — asserted with the
    size-based auto-broadcast disabled, so only the hint can produce the
    BHJ (the frontier side then pays no shuffle write) — and falls back to
    the planner's own choice once the delta outgrows the bound."""
    from gh_crawler_spark.crawler import BROADCAST_TRANSITIONS_MAX_ROWS, Crawler, CrawlConfig
    from gh_crawler_spark.sources.pages import generate_pages, generate_seeds

    pages = generate_pages(spark, 40, seed=3, n_domains=5)
    seeds = generate_seeds(spark, 40, 4, seed=3, n_domains=5)
    cfg = CrawlConfig(root=str(tmp_path / "bt"), n_buckets=4, max_rounds=2)
    c = Crawler(spark, cfg, pages)
    c.init_frontier(seeds)
    c.run_round(0)
    frontier = c._read_active_frontier()
    trans = c.t["transitions"].read(spark)
    orig = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        hinted = c._effective_frontier(frontier, trans)
        assert uses_broadcast_join(hinted)
        c._trans_rows = BROADCAST_TRANSITIONS_MAX_ROWS + 1
        unhinted = c._effective_frontier(frontier, trans)
        assert not uses_broadcast_join(unhinted)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", orig)
        c.pages_idx.unpersist()


def test_no_row_python_anywhere_in_registry(spark):
    """Row-at-a-time Python UDFs (BatchEvalPython) are banned engine-wide;
    Arrow (pandas) UDFs are allowed only in documented places."""
    from gh_crawler_spark.queries import QUERIES

    for name, (fn, _sql) in QUERIES.items():
        df = fn(spark, SF)
        assert row_python_eval_nodes(df) == 0, name
