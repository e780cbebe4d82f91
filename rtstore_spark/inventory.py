"""The operator inventory: every query the engine claims, plus its DuckDB oracle.

Each entry is ``name -> (spark_fn, oracle_sql | None)`` where ``spark_fn(spark,
sf_dir) -> DataFrame`` and the SQL runs in DuckDB over views named after the
test tables (TESTDATA.md). The driver hash-compares both sides at sf0.01, so
every computed column is aliased identically in both, and floating-point
aggregates are computed over DECIMAL(18,4) casts (exact, order-independent)
before a final cast to DOUBLE — a plain double sum differs between engines in
the last ulp depending on accumulation order.

Sections mirror SURVEY.md §2:
- jql_*            — the JQL query surface (Q1-Q10 + extensions)
- store-analog ops — point get / range scan / reverse page / counters (S3-S6)
- q_*              — the Spark-SQL escape hatch: joins/aggs/windows the
                     reference lacks but a user of this engine gets
- dedup_* text_* ann_* — LLM-data-pipeline operators (training-data prep)

Cross-engine parity notes (learned the hard way, keep in sync):
- DuckDB ``regexp_replace`` needs the ``'g'`` flag; Spark's is global already.
- 32-bit hash: Spark ``conv(substr(md5(x),1,8),16,10)`` == DuckDB
  ``('0x' || substr(md5(x),1,8))::BIGINT``.
- Timestamps: parquet TIMESTAMP(NANOS) → µs via ``tables.load_table``;
  output as ``unix_micros`` (Spark) / ``epoch_us`` (DuckDB) BIGINTs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from rtstore_spark.jql import jql_query
from rtstore_spark.tables import fan_out, load_table, maybe_broadcast

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

DEC = "decimal(18,4)"


def _dsum(col: str | F.Column, alias: str) -> F.Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double").alias(alias)


def _davg(col: str | F.Column, alias: str) -> F.Column:
    """Order-independent average: exact decimal sum / count, then double."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(c.cast(DEC)).cast("double") / F.count(F.lit(1))).alias(alias)


def _hash32(col: F.Column) -> F.Column:
    """Deterministic 32-bit hash computable identically in DuckDB."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def _tokens(col: F.Column) -> F.Column:
    return F.split(F.trim(col), r"\s+")


def _fanned(spark, sf: str, name: str, key: str):
    """Fact/corpus scan with the under-split-layout fan-out applied
    (tables.fan_out; optimization guide §2.5 "one huge unsplittable
    file"). ``key`` is picked so the first keyed downstream operator
    (groupBy/window/join) reuses the exchange (guide §2.4). No-op at
    warehouse scale, where the layout admits >= cores scan tasks."""
    return fan_out(spark, load_table(spark, sf, name), sf, name, key)


_REGISTRY: dict[str, tuple] = {}


def register(name: str, sql: str | None):
    def deco(fn):
        _REGISTRY[name] = (fn, sql)
        return fn

    return deco


# ---------------------------------------------------------------------------
# JQL surface (documents / events) — SURVEY.md §2.2 Q1-Q10 + extensions
# ---------------------------------------------------------------------------


@register("jql_scan", "SELECT * FROM documents")
def jql_scan(spark, sf):
    return jql_query(load_table(spark, sf, "documents"), "/*", order_col="doc_id")


@register("jql_filter_eq", "SELECT * FROM documents WHERE lang = 'en'")
def jql_filter_eq(spark, sf):
    return jql_query(load_table(spark, sf, "documents"), "/[lang = en]", order_col="doc_id")


@register(
    "jql_filter_and",
    "SELECT * FROM documents WHERE lang = 'en' AND source = 'src1'",
)
def jql_filter_and(spark, sf):
    return jql_query(
        load_table(spark, sf, "documents"),
        "/[lang = en] and /[source = src1]",
        order_col="doc_id",
    )


@register(
    "jql_filter_or",
    "SELECT * FROM documents WHERE (lang = 'fr' OR n_chars < 100)"
    " AND NOT (lang = 'de')",
)
def jql_filter_or(spark, sf):
    """Composite boolean coverage in one entry: or + not + parens (the
    former standalone jql_filter_not's semantics fold in here; `not` also
    has RFC-grammar property tests in test_jql_properties)."""
    return jql_query(
        load_table(spark, sf, "documents"),
        "(/[lang = fr] or /[n_chars < 100]) and not /[lang = de]",
        order_col="doc_id",
    )


@register(
    "jql_filter_cmp_in",
    "SELECT * FROM documents WHERE n_chars >= 300 AND lang IN ('en', 'fr')",
)
def jql_filter_cmp_in(spark, sf):
    """Range comparison + membership (`in`) in one conjunctive query."""
    return jql_query(
        load_table(spark, sf, "documents"),
        '/[n_chars >= 300] and /[lang in ["en", "fr"]]',
        order_col="doc_id",
    )


@register(
    "jql_filter_prefix_regex",
    """SELECT * FROM documents
       WHERE source LIKE 'src1%' OR regexp_matches(text, '^key ')""",
)
def jql_filter_prefix_regex(spark, sf):
    """Prefix (`~`) and regex (`re`) operators in one disjunctive query."""
    return jql_query(
        load_table(spark, sf, "documents"),
        '/[source ~ src1] or /[text re "^key "]',
        order_col="doc_id",
    )


@register(
    "jql_projection",
    "SELECT doc_id, lang, n_chars FROM documents WHERE lang = 'en'",
)
def jql_projection(spark, sf):
    """Both projection compiler paths in one oracle row (frees a registry
    slot under the driver's 50-entry cap): the NATIVE path projects
    columns with ``/{doc_id, lang}``, the DOC-MODE path re-encodes rows
    as JSON docs, filters + projects inside the JSON column and extracts
    the scalar back out. The FULL OUTER join on doc_id means the hash
    matches only if BOTH paths select exactly the same rows: one-sided
    over-selection surfaces as extra rows with a null partner column,
    one-sided under-selection as nulls where the oracle has values —
    an inner join would mask both regressions."""
    docs = load_table(spark, sf, "documents")
    native = jql_query(
        docs, "/[lang = en] | /{doc_id, lang}", order_col="doc_id"
    )
    as_docs = docs.select(
        "doc_id", F.to_json(F.struct("lang", "n_chars")).alias("doc")
    )
    docmode = jql_query(
        as_docs, "/[lang = en] | /{n_chars}", doc_col="doc", order_col="doc_id"
    ).select(
        "doc_id",
        F.get_json_object("doc", "$.n_chars").cast("long").alias("n_chars"),
    )
    return native.join(docmode, "doc_id", "full_outer")


@register("jql_count", "SELECT count(*) AS count FROM documents")
def jql_count(spark, sf):
    return jql_query(load_table(spark, sf, "documents"), "/* | count")


@register(
    "jql_limit_newest",
    "SELECT * FROM documents ORDER BY doc_id DESC LIMIT 5",
)
def jql_limit_newest(spark, sf):
    # Implicit newest-first (Q9): limit without order sorts desc by doc id.
    return jql_query(load_table(spark, sf, "documents"), "/* | limit 5", order_col="doc_id")


@register(
    "jql_skip_order",
    "SELECT * FROM documents ORDER BY doc_id LIMIT 10 OFFSET 10",
)
def jql_skip_order(spark, sf):
    return jql_query(
        load_table(spark, sf, "documents"),
        "/* | asc /doc_id | skip 10 | limit 10",
        order_col="doc_id",
    )


@register("jql_placeholder", "SELECT * FROM documents WHERE lang = 'de'")
def jql_placeholder(spark, sf):
    return jql_query(
        load_table(spark, sf, "documents"),
        "/[lang = :lang]",
        params={"lang": "de"},
        order_col="doc_id",
    )


@register(
    "jql_json_subfield",
    """SELECT event_id, user_id, event_type, value
       FROM events WHERE CAST(json_extract_string(props, '$.k') AS DOUBLE) > 50""",
)
def jql_json_subfield(spark, sf):
    """No fan-out: Catalyst pushes the compiled JSON predicate (a
    deterministic filter) BELOW any repartition, so the parse ran in the
    single scan task either way and the exchange was pure overhead —
    the plan is scan → filter → project with zero exchanges."""
    ev = load_table(spark, sf, "events")
    return jql_query(ev, "/[props.k > 50]").select(
        "event_id", "user_id", "event_type", "value"
    )


# ---------------------------------------------------------------------------
# document-store analogs — SURVEY.md §2.1 S3-S6, §2.4 counters
# ---------------------------------------------------------------------------


@register("point_get", "SELECT * FROM documents WHERE doc_id = 42")
def point_get(spark, sf):
    """S6: point get by doc id (doc_store.rs:240-250)."""
    return load_table(spark, sf, "documents").filter(F.col("doc_id") == 42)


@register(
    "range_scan",
    """SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us
       FROM events
       WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'""",
)
def range_scan(spark, sf):
    """S3: block-range log scan (mutation_store.rs:522-570) — time-keyed here."""
    ev = load_table(spark, sf, "events")
    return ev.filter(
        (F.col("ts") >= F.expr("TIMESTAMP '2024-01-10 00:00:00'"))
        & (F.col("ts") < F.expr("TIMESTAMP '2024-01-20 00:00:00'"))
    ).select(
        "event_id", "user_id", "event_type", "value",
        F.unix_micros("ts").alias("ts_us"),
    )


@register(
    "reverse_page_scan",
    """SELECT event_id, user_id, event_type, value FROM events
       ORDER BY event_id DESC LIMIT 50 OFFSET 100""",
)
def reverse_page_scan(spark, sf):
    """S4: newest-first paged scan with offset/limit (mutation_store.rs:395-440)."""
    ev = load_table(spark, sf, "events")
    return (
        ev.orderBy(F.col("event_id").desc())
        .offset(100)
        .limit(50)
        .select("event_id", "user_id", "event_type", "value")
    )


@register(
    "collection_counters",
    "SELECT lang, source, count(*) AS n_docs FROM documents GROUP BY lang, source",
)
def collection_counters(spark, sf):
    """§2.4: the stat counters (total_doc_count) as a materialized aggregate."""
    return (
        load_table(spark, sf, "documents")
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "owner_doc_counts",
    """SELECT user_id, count(*) AS n_events,
              CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
       FROM events GROUP BY user_id""",
)
def owner_doc_counts(spark, sf):
    """S5-analog: per-owner totals (db ownership index, db_owner_key_v2.rs)."""
    return (
        load_table(spark, sf, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), _dsum("value", "total_value"))
    )


# ---------------------------------------------------------------------------
# Spark-SQL escape hatch: analytics beyond the reference (SURVEY.md §2.3-2.5)
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    """SELECT l_returnflag, l_linestatus,
              CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(18,4)) * CAST(1 + l_tax AS DECIMAL(18,4))) AS DOUBLE) AS sum_charge,
              CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_qty,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_price,
              CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_disc,
              COUNT(*) AS count_order
       FROM lineitem
       WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       GROUP BY l_returnflag, l_linestatus""",
)
def q1_pricing_summary(spark, sf):
    """TPC-H Q1 shape: scan-filter-agg, fully pushed down, partial-agg friendly.

    The decimal aggregates run in SCALED-LONG form (optimization guide
    §1.2 step 2, per-task work): the money columns are exact 2-decimal
    values, so ``cast(x * 100 + 0.5 as bigint)`` reproduces the unscaled
    value of ``cast(x as decimal(18,4))`` exactly (half-up on
    non-negative 2dp data), per-row products are exact 64-bit integer
    arithmetic instead of per-row java.math.BigDecimal multiplies
    (~2× the whole query at any scale — BigDecimal is just as slow on a
    cluster core), and each sum feeds a compact decimal(20+,0) (long-
    backed adds, overflow-proof). The ONE decimal division per GROUP
    restores the scale exactly, so the output is bit-identical to the
    decimal(18,4) formulation — proven per-group against the decimal
    form on sf0.001/0.01/0.1 (OPTIMIZATION_r11.md) and still
    hash-checked against the unchanged DuckDB oracle above. Value-domain
    guard: tools/check_correctness.py re-proves the 2dp/non-negative
    precondition cheaply every gate run.

    No fan-out: with the per-row math reduced to integer ops the scan
    dominates, and a repartition after an under-split scan would shuffle
    ~600k rows to parallelize work that is now cheaper than the shuffle
    itself (measured: fan+decimal 1.42s, nofan+long 0.65s at sf0.1)."""
    li = load_table(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.expr("TIMESTAMP '1998-09-02 00:00:00'"))
        .selectExpr(
            "l_returnflag", "l_linestatus",
            "cast(l_quantity as bigint) AS q0",
            "cast(l_extendedprice * 100 + 0.5 as bigint) AS p2",
            "cast(l_discount * 100 + 0.5 as bigint) AS d2",
            "cast(l_tax * 100 + 0.5 as bigint) AS t2",
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.expr("cast(sum(cast(q0 as decimal(20,0))) as double) AS sum_qty"),
            F.expr("cast(sum(cast(p2 as decimal(20,0))) / 100 as double) AS sum_base_price"),
            F.expr("cast(sum(cast(p2 * (100 - d2) as decimal(24,0))) / 10000 as double) AS sum_disc_price"),
            F.expr("cast(sum(cast(p2 * (100 - d2) * (100 + t2) as decimal(27,0))) / 1000000 as double) AS sum_charge"),
            F.expr("cast(sum(cast(q0 as decimal(20,0))) as double) / count(1) AS avg_qty"),
            F.expr("cast(sum(cast(p2 as decimal(20,0))) / 100 as double) / count(1) AS avg_price"),
            F.expr("cast(sum(cast(d2 as decimal(20,0))) / 100 as double) / count(1) AS avg_disc"),
            F.expr("count(1) AS count_order"),
        )
    )


@register(
    "q3_shipping_priority",
    """SELECT l_orderkey,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
              epoch_us(o_orderdate) AS o_orderdate_us
       FROM customer JOIN orders ON c_custkey = o_custkey
                     JOIN lineitem ON l_orderkey = o_orderkey
       WHERE c_mktsegment = 'BUILDING'
         AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
         AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
       GROUP BY l_orderkey, o_orderdate
       ORDER BY revenue DESC, l_orderkey LIMIT 10""",
)
def q3_shipping_priority(spark, sf):
    """TPC-H Q3 shape: selective dim filter → broadcast join → top-k.

    Scale notes: customer(BUILDING) is ~1/5 of a small dim — broadcast;
    lineitem never shuffles for the join while orders fits the broadcast
    threshold, and falls back to an AQE-planned shuffle join past it
    (orders grows with the fact — a hard-coded broadcast is a scale bug).
    Top-10 via orderBy+limit is a per-partition top-k + single-reduce in
    Spark (TakeOrderedAndProject).

    Revenue runs in the q1-style scaled-long form (exact int64 product
    per row, one decimal division per group — see q1_pricing_summary):
    the join probe then carries ONE long instead of two doubles and no
    per-row BigDecimal work survives the join.
    """
    cust = load_table(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf, "orders").filter(
        F.col("o_orderdate") < F.expr("TIMESTAMP '1998-03-15 00:00:00'")
    )
    li = fan_out(
        spark,
        load_table(spark, sf, "lineitem")
        .filter(F.col("l_shipdate") > F.expr("TIMESTAMP '1998-03-15 00:00:00'"))
        .selectExpr(
            "l_orderkey",
            "cast(l_extendedprice * 100 + 0.5 as bigint)"
            " * (100 - cast(l_discount * 100 + 0.5 as bigint)) AS rev4",
        ),
        sf, "lineitem", "l_orderkey",
    )  # project BELOW the fan-out exchange: shuffle (key, one long), not raw cols
    return (
        li.join(
            maybe_broadcast(
                spark, sf, "orders",
                orders.join(
                    maybe_broadcast(spark, sf, "customer", cust),
                    F.col("o_custkey") == F.col("c_custkey"),
                ),
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.expr(
                "cast(sum(cast(rev4 as decimal(24,0))) / 10000 as double) AS revenue"
            )
        )
        .select(
            "l_orderkey", "revenue", F.unix_micros("o_orderdate").alias("o_orderdate_us")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "q5_local_supplier_volume",
    """SELECT n_name,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
       FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
       WHERE r_name = 'ASIA'
       GROUP BY n_name""",
)
def q5_local_supplier_volume(spark, sf):
    """TPC-H Q5 shape: star join — every true dimension broadcast, one fact
    scan. orders is NOT a dimension (it scales with lineitem): its broadcast
    is size-gated, so past the threshold the orders⋈lineitem edge becomes an
    AQE-planned shuffle join while customer/supplier/nation/region stay
    broadcast.

    Revenue runs in the q1-style scaled-long form (see
    q1_pricing_summary): the fact side projects to (l_orderkey,
    l_suppkey, rev4) before the fan-out exchange and the joins — one
    exact int64 per row instead of two doubles + per-row BigDecimal
    multiplies above the join.

    Join ORDER (guide §3.2 "reduce the big side first"): the only
    selective predicate is r_name = 'ASIA', which restricts SUPPLIERS
    to ~1/5 — so the fact probes the region-restricted supplier
    dimension FIRST (supplier ⋈ nation ⋈ region folds into one
    broadcast build), cutting lineitem 5× before the orders and
    customer probes. The old order probed orders/customer with every
    lineitem row and only then dropped 4/5 of them at the supplier
    join. The c_nationkey = s_nationkey colocation predicate rides the
    customer join as a second equi-key. Inner joins commute: result
    identical, re-proven against the unchanged oracle."""
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders")
    li = fan_out(
        spark,
        load_table(spark, sf, "lineitem").selectExpr(
            "l_orderkey",
            "l_suppkey",
            "cast(l_extendedprice * 100 + 0.5 as bigint)"
            " * (100 - cast(l_discount * 100 + 0.5 as bigint)) AS rev4",
        ),
        sf, "lineitem", "l_orderkey",
    )  # project BELOW the fan-out exchange: shuffle (keys, one long), not raw cols
    supp = load_table(spark, sf, "supplier")
    nation = load_table(spark, sf, "nation")
    region = load_table(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    supp_asia = (
        supp.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    return (
        li.join(
            maybe_broadcast(spark, sf, "supplier", supp_asia),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            maybe_broadcast(spark, sf, "orders", orders),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            maybe_broadcast(spark, sf, "customer", cust),
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.expr(
                "cast(sum(cast(rev4 as decimal(24,0))) / 10000 as double) AS revenue"
            )
        )
    )


@register(
    "q6_revenue_change",
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
       FROM lineitem
       WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
         AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
         AND l_discount BETWEEN 0.04 AND 0.08 AND l_quantity < 24""",
)
def q6_revenue_change(spark, sf):
    """TPC-H Q6 shape: pure pushed-filter aggregate — zero shuffle.

    Same scaled-long aggregation as q1_pricing_summary (see its
    docstring for the equivalence argument): the per-row decimal
    multiply becomes one exact int64 multiply, the sum stays exact via
    a compact decimal, one decimal division per query restores the
    scale. Bit-identical to the decimal form on all fixture SFs. No
    fan-out — post-rewrite the per-row work is cheaper than the
    repartition it would take to parallelize it."""
    li = load_table(spark, sf, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.expr("TIMESTAMP '1997-01-01 00:00:00'"))
            & (F.col("l_shipdate") < F.expr("TIMESTAMP '1998-01-01 00:00:00'"))
            & (F.col("l_discount") >= 0.04)
            & (F.col("l_discount") <= 0.08)
            & (F.col("l_quantity") < 24)
        )
        .selectExpr(
            "cast(l_extendedprice * 100 + 0.5 as bigint) AS p2",
            "cast(l_discount * 100 + 0.5 as bigint) AS d2",
        )
        .agg(
            F.expr(
                "cast(sum(cast(p2 * d2 as decimal(24,0))) / 10000 as double) AS revenue"
            )
        )
    )


@register(
    "q_top_orders_per_customer",
    """SELECT * FROM (
         SELECT o_custkey, o_orderkey, o_totalprice,
                row_number() OVER (PARTITION BY o_custkey
                                   ORDER BY o_totalprice DESC, o_orderkey) AS rn
         FROM orders) WHERE rn <= 3""",
)
def q_top_orders_per_customer(spark, sf):
    """Window top-k per group — single hash-partition shuffle on the group key
    (the fan-out IS that shuffle: keyed on o_custkey, the window reuses it)."""
    orders = _fanned(spark, sf, "orders", "o_custkey")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.select(
            "o_custkey", "o_orderkey", "o_totalprice", F.row_number().over(w).alias("rn")
        ).filter(F.col("rn") <= 3)
    )


@register(
    "q_events_hourly",
    """SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
              count(*) AS n_events,
              count(DISTINCT user_id) AS n_users,
              CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
       FROM events GROUP BY 1, 2""",
)
def q_events_hourly(spark, sf):
    """Tumbling-window aggregate (batch form of the streaming hourly rollup).
    Also carries the per-window distinct-user count (the former
    q_distinct_users entry, folded in to free a registry slot).

    No fan-out: the repartition shipped every column (including the
    ~full-row ``props`` JSON string the query never reads) to
    parallelize cheap per-row work, and it pre-empted the map-side
    partial aggregate — measured 1.75s fanned vs 0.71s unfanned at
    sf0.1 (guide §2.3 "aggregate before you shuffle": the partial agg
    collapses rows to distinct (hour, type, user) groups pre-exchange)."""
    ev = load_table(spark, sf, "events")
    return (
        ev.groupBy(
            F.unix_micros(F.date_trunc("hour", F.col("ts"))).alias("hour_us"),
            "event_type",
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            _dsum("value", "total_value"),
        )
    )


@register(
    "q_user_sessions",
    """WITH g AS (
         SELECT user_id, epoch_us(ts) AS ts_us,
                lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
         FROM events)
       SELECT user_id, count(*) AS n_events,
              CAST(SUM(CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
       FROM g GROUP BY user_id""",
)
def q_user_sessions(spark, sf):
    """Gap-based sessionization (30-min) via window lag — the batch analog of
    streaming session windows."""
    ev = _fanned(spark, sf, "events", "user_id").select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    g = ev.withColumn("prev_us", F.lag("ts_us").over(w))
    new_sess = F.when(
        F.col("prev_us").isNull() | (F.col("ts_us") - F.col("prev_us") > 1_800_000_000), 1
    ).otherwise(0)
    return g.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"), F.sum(new_sess).alias("n_sessions")
    )


@register(
    "q_order_priority",
    """SELECT o_orderpriority, count(*) AS n_orders
       FROM orders WHERE EXISTS (
         SELECT 1 FROM lineitem
         WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
       GROUP BY o_orderpriority""",
)
def q_order_priority(spark, sf):
    """TPC-H Q4 shape: EXISTS → semi join over a PRE-AGGREGATED probe.

    EXISTS(l_shipdate > o_orderdate) ⟺ max(l_shipdate) > o_orderdate,
    so lineitem reduces to one row per orderkey BEFORE the join shuffle
    — the max() gets a map-side partial aggregate (orderkeys are
    clustered in lineitem files, so the combine collapses ~4 rows to 1
    pre-shuffle), the semi join probes a 4× smaller build, and the
    inequality stays in the join condition. The naive semi join over
    raw lineitem was the closest-to-linear plan in the ×20 scale
    stress (ratio 0.64); the shuffle this removes is exactly the term
    that grew.

    No fan-out: a repartition between scan and aggregate DEFEATED the
    map-side combine this plan is built on (the raw 600k (orderkey,
    shipdate) pairs crossed the exchange before collapsing 4:1) —
    unfanned, the partial max runs in the scan task and only ~150k
    aggregated rows move (guide §2.3).

    The semi join takes a SHUFFLE_HASH hint (guide §3.1): the probe
    (li_max) GROWS WITH THE FACT — one row per orderkey — so a broadcast
    is wrong at every scale (locally it paid a driver collect + rebuild
    of ~150k rows, measured 1.25s → 0.82s median with the hint; at 100 TB
    it would OOM or time out) and sort-merge pays two sorts the hash join
    skips. li_max is already hash-partitioned on l_orderkey by its own
    aggregate exchange, so the join adds only the orders-side exchange."""
    orders = load_table(spark, sf, "orders")
    li_max = (
        load_table(spark, sf, "lineitem")
        .select("l_orderkey", "l_shipdate")
        .groupBy("l_orderkey")
        .agg(F.max("l_shipdate").alias("_max_ship"))
    )
    joined = orders.join(
        li_max.hint("shuffle_hash"),
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("_max_ship") > F.col("o_orderdate")),
        "left_semi",
    )
    return joined.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n_orders"))


@register(
    "q_nation_balance",
    """SELECT n_name,
              count(*) AS n_customers,
              CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_acctbal
       FROM customer JOIN nation ON c_nationkey = n_nationkey
                     JOIN region ON n_regionkey = r_regionkey
       WHERE r_name = 'EUROPE'
       GROUP BY n_name""",
)
def q_nation_balance(spark, sf):
    cust = load_table(spark, sf, "customer")
    nation = load_table(spark, sf, "nation")
    region = load_table(spark, sf, "region").filter(F.col("r_name") == "EUROPE")
    return (
        cust.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"), _davg("c_acctbal", "avg_acctbal"))
    )


@register(
    "q_events_pivot",
    """SELECT user_id,
              count(*) FILTER (WHERE event_type = 'click') AS n_click,
              count(*) FILTER (WHERE event_type = 'view') AS n_view,
              count(*) FILTER (WHERE event_type = 'error') AS n_error,
              count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
              count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase
       FROM events GROUP BY user_id""",
)
def q_events_pivot(spark, sf):
    """Pivot with explicit values — one shuffle; explicit value list keeps it
    a single pass (inferred pivot would scan twice for the value set)."""
    ev = load_table(spark, sf, "events")
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "view", "error", "signup", "purchase"])
        .count()
    )
    renames = {t: f"n_{t}" for t in ["click", "view", "error", "signup", "purchase"]}
    for old, new in renames.items():
        out = out.withColumnRenamed(old, new)
    return out.select(
        "user_id",
        *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in renames.values()],
    )


@register(
    "q_rollup_orders",
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
       FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)""",
)
def q_rollup_orders(spark, sf):
    """Hierarchical grouping sets (subtotal + grand-total rows)."""
    orders = load_table(spark, sf, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"), _dsum("o_totalprice", "total")
    )


@register(
    "q_set_ops",
    """SELECT 'intersect' AS op, doc_id FROM (
         SELECT doc_id FROM documents WHERE lang = 'en'
         INTERSECT
         SELECT doc_id FROM documents WHERE n_chars > 200)
       UNION ALL
       SELECT 'except' AS op, doc_id FROM (
         SELECT doc_id FROM documents WHERE lang = 'en'
         EXCEPT
         SELECT doc_id FROM documents WHERE source = 'src1')""",
)
def q_set_ops(spark, sf):
    """INTERSECT and EXCEPT in one tagged result (both set operators)."""
    docs = load_table(spark, sf, "documents")
    en = docs.filter(F.col("lang") == "en").select("doc_id")
    inter = en.intersect(docs.filter(F.col("n_chars") > 200).select("doc_id"))
    exc = en.exceptAll(docs.filter(F.col("source") == "src1").select("doc_id")).distinct()
    return inter.select(F.lit("intersect").alias("op"), "doc_id").unionAll(
        exc.select(F.lit("except").alias("op"), "doc_id")
    )


@register(
    "domain_cap",
    """SELECT source, doc_id, rn AS domain_rank FROM (
         SELECT source, doc_id, row_number() OVER (
           PARTITION BY source
           ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT,
                    doc_id
         ) AS rn
         FROM documents) WHERE rn <= 5""",
)
def domain_cap(spark, sf):
    """Per-domain frequency cap (operators.web.domain_frequency_cap): keep a
    deterministic md5-ordered top-5 per source. The operator runs the salted
    two-level top-N (hot domains never collapse into one task); the oracle
    replays it as DuckDB's single global window — equal by construction
    since every global winner survives its salt's local top-N.
    (Replaced q_distinct_users, folded into q_events_hourly.)"""
    from rtstore_spark.operators.web import domain_frequency_cap

    docs = load_table(spark, sf, "documents")
    return domain_frequency_cap(docs, "source", "doc_id", 5).select(
        "source", "doc_id", "domain_rank"
    )


@register(
    "q_quantity_quantiles",
    """SELECT l_returnflag,
              round(CAST(quantile_cont(l_quantity, 0.5) AS DOUBLE), 6) AS p50,
              round(CAST(quantile_cont(l_quantity, 0.9) AS DOUBLE), 6) AS p90
       FROM lineitem GROUP BY l_returnflag""",
)
def q_quantity_quantiles(spark, sf):
    """Exact interpolated percentiles (Spark `percentile` ≡ DuckDB
    quantile_cont)."""
    li = load_table(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(l_quantity, 0.9)"), 6).alias("p90"),
    )


@register(
    "q_top_spender_per_nation",
    """SELECT n_name, c_custkey, c_acctbal FROM (
         SELECT n_name, c_custkey, c_acctbal,
                row_number() OVER (PARTITION BY n_name
                                   ORDER BY c_acctbal DESC, c_custkey) AS rn
         FROM customer JOIN nation ON c_nationkey = n_nationkey)
       WHERE rn = 1""",
)
def q_top_spender_per_nation(spark, sf):
    cust = load_table(spark, sf, "customer")
    nation = load_table(spark, sf, "nation")
    w = Window.partitionBy("n_name").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return (
        cust.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("n_name", "c_custkey", "c_acctbal", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "topk_heavy_hitters",
    """WITH cnt AS (SELECT event_type, user_id AS item, count(*) AS c
                    FROM events GROUP BY 1, 2),
        ranked AS (SELECT *, row_number() OVER (
                     PARTITION BY event_type ORDER BY c DESC, item) AS rk
                   FROM cnt),
        kept AS (SELECT * FROM ranked WHERE rk <= 10),
        bound AS (SELECT event_type,
                         coalesce(max(c) FILTER (WHERE rk > 10), 0) AS b
                  FROM ranked GROUP BY 1),
        tb AS (SELECT sum(b)::BIGINT AS max_err FROM bound),
        merged AS (SELECT item, sum(c)::BIGINT AS count_lo
                   FROM kept GROUP BY 1)
       SELECT item, count_lo, max_err FROM merged, tb
       ORDER BY count_lo DESC, item LIMIT 5""",
)
def topk_heavy_hitters(spark, sf):
    """The mergeable heavy-hitter sketch family's oracle row
    (operators.sketches): per-event-type truncated top-k rollups (k=5,
    slack=2) merged to the global top 5 with the SpaceSaving-style error
    bound. The oracle independently replays rollup truncation, the
    per-group dropped-count bound and the merge arithmetic — count_lo
    and max_err must match exactly, pinning both the sketch and its
    honesty guarantee. Scale shape: one partial-agg shuffle for counts,
    one window over the already-aggregated rows, never the base table."""
    from rtstore_spark.operators.sketches import topk_merge, topk_rollup

    ev = load_table(spark, sf, "events")
    roll = topk_rollup(ev, "user_id", by=["event_type"], k=5, slack=2)
    return topk_merge(roll, k=5)


# ---------------------------------------------------------------------------
# LLM-data-pipeline operators (dedup / text analysis / similarity)
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
       FROM documents GROUP BY md5(text)""",
)
def dedup_exact(spark, sf):
    """Exact dedup: hash-groupBy, keep lowest doc id. Map-side partial agg;
    at 100 TB the groupBy key is the 128-bit hash, never the text itself.

    No fan-out: the repartition shipped the FULL TEXT column to
    parallelize one md5 per document — hashing is cheaper than the
    exchange (measured 1.01s fanned vs 0.17s unfanned at sf0.1), and
    with the text hashed in the scan task only (hash, id) ever moves."""
    docs = load_table(spark, sf, "documents")
    return (
        docs.select(F.md5("text").alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


@register(
    "substring_dedup_stats",
    r"""WITH t AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        sh0 AS (
          SELECT doc_id,
                 list_transform(generate_series(1, len(toks) - 7),
                   i -> struct_pack(pos := i - 1,
                                    s := array_to_string(toks[i:i+7], ' '))) AS prs
          FROM t WHERE len(toks) >= 8),
        e AS (SELECT doc_id, pr.pos AS pos, pr.s AS s
              FROM (SELECT doc_id, unnest(prs) AS pr FROM sh0)),
        fl AS (SELECT doc_id, pos FROM (
                 SELECT doc_id, pos,
                        row_number() OVER (PARTITION BY s ORDER BY doc_id, pos) AS rn,
                        count(*) OVER (PARTITION BY s) AS c
                 FROM e) WHERE c >= 2 AND rn > 1),
        seg0 AS (SELECT doc_id, pos,
                        CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
                             THEN 1 ELSE 0 END AS b FROM fl),
        seg AS (SELECT doc_id, pos,
                       sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS g
                FROM seg0),
        sp AS (SELECT doc_id, min(pos) AS st, max(pos) + 8 AS en
               FROM seg GROUP BY doc_id, g),
        agg AS (SELECT doc_id, sum(en - st) AS rem, count(*) AS ns
                FROM sp GROUP BY doc_id)
       SELECT d.doc_id,
              CAST(coalesce(agg.rem, 0) AS INT) AS n_tokens_removed,
              CAST(coalesce(agg.ns, 0) AS INT) AS n_spans_removed
       FROM documents d LEFT JOIN agg USING (doc_id)""",
)
def substring_dedup_stats(spark, sf):
    """Exact substring dedup (Lee et al. 2022 keep-one removal,
    ``dedup.substring_dedup``): per document, how many tokens and merged
    spans the removal cut. The oracle replays winner selection (first
    (doc, pos) occurrence per 8-token window), interval-overlap span
    merging and the removal counts from raw shingle STRINGS — the
    engine's 60-bit hashing is internal, so agreement also certifies the
    hash path collision-free at this scale. (Replaces dedup_fingerprint:
    a one-line md5 projection whose kernel dedup_exact already pins.)"""
    from rtstore_spark.operators.dedup import substring_dedup

    docs = load_table(spark, sf, "documents")
    return substring_dedup(docs, "text", "doc_id", span_tokens=8).select(
        "doc_id", "n_tokens_removed", "n_spans_removed"
    )


def _minhash_wide_sql() -> str:
    """Shared oracle CTEs: shingles → one md5 base hash → 8 universal-hash
    mins (doc_id, mh0..mh7) — byte-identical to operators.dedup's family."""
    from rtstore_spark.operators.dedup import minhash_coeffs

    mins = ", ".join(
        f"MIN(({a} * hx + {b}) % 4294967296) AS mh{h}"
        for h, (a, b) in enumerate(minhash_coeffs(8))
    )
    return rf"""WITH t AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        sh AS (
          SELECT doc_id, CASE WHEN len(toks) >= 3
            THEN list_transform(generate_series(1, len(toks) - 2),
                                i -> array_to_string(toks[i:i+2], ' '))
            ELSE [array_to_string(toks, ' ')] END AS shingles
          FROM t),
        e AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
        hx AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS hx FROM e),
        wide AS (SELECT doc_id, {mins} FROM hx GROUP BY doc_id)"""


_BM25_QUERIES = [
    (0, "model training data"),
    (1, "quality corpus analysis"),
    (2, "the of and"),
    (3, "language structure pattern"),
]


@register(
    "bm25_corpus_search",
    r"""WITH toks AS (
          SELECT doc_id,
                 unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
          FROM documents),
        dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
        stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
        tf AS (SELECT doc_id, term, count(*) AS tf
               FROM toks GROUP BY doc_id, term),
        tdf AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        q(qid, qtext) AS (VALUES
          (0, 'model training data'), (1, 'quality corpus analysis'),
          (2, 'the of and'), (3, 'language structure pattern')),
        qt AS (SELECT DISTINCT qid,
                 unnest(string_split_regex(lower(trim(qtext)), '\s+')) AS term
               FROM q)
       SELECT qt.qid, tf.doc_id,
              round(sum(
                ln(1 + (stats.n - tdf.df + 0.5) / (tdf.df + 0.5))
                * (tf.tf * (1.2 + 1))
                / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))
              ), 4) AS score
       FROM qt
       JOIN tf  ON tf.term = qt.term
       JOIN tdf ON tdf.term = qt.term
       JOIN dl  ON dl.doc_id = tf.doc_id
       CROSS JOIN stats
       GROUP BY qt.qid, tf.doc_id""",
)
def bm25_corpus_search(spark, sf):
    """Batch BM25 retrieval: 4 fixed queries, ALL matched docs, ONE job.

    The decontamination-search shape (operators/retrieval.py): query
    terms broadcast against the postings, IDF from a query-vocab-pruned
    term-df join, per-(qid, doc) partial-agg score sum. The oracle
    comparison deliberately carries NO top-k cut: the row set is then
    pure set membership (docs containing a query term — float-free). A
    rank boundary would expose the row SET to float noise whenever
    ranks k/k+1 land within an ulp — the top-k path is pinned instead
    by the differential + DuckDB tests in tests/test_retrieval.py.
    Scores round the RAW sum ONCE at 4 on both sides (ln() has no
    DECIMAL form, so inventory's usual decimal rule can't apply; a
    coarse single round keeps sum-order/libm last-ulp noise ~8 orders
    below the quantum). Never double-round through 6: that MANUFACTURES
    exact half-way decimals — e.g. raw 0.33794962 → 0.33795 — which
    Spark (BigDecimal on the shortest repr, half-up → 0.3380) and
    DuckDB (binary value 0.337949999…, half-away → 0.3379) then resolve
    differently; hit in the gate at sf0.01, doc 262.
    """
    from rtstore_spark.operators.retrieval import bm25_batch_topk

    docs = load_table(spark, sf, "documents")
    queries = spark.createDataFrame(_BM25_QUERIES, "qid long, text string")
    return bm25_batch_topk(
        docs, "text", "doc_id", queries,
        k=1_000_000,  # no cut: all matches
        round_to=4,   # single round of the raw sum, same as the SQL
    ).select("qid", F.col("id").alias("doc_id"), "score")


@register(
    "bm25_maintained_search",
    r"""WITH toks AS (
          SELECT doc_id,
                 unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
          FROM documents),
        dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
        stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
        tf AS (SELECT doc_id, term, count(*) AS tf
               FROM toks GROUP BY doc_id, term),
        tdf AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        q(qid, qtext) AS (VALUES
          (0, 'model training data'), (1, 'the of and'),
          (2, 'pattern structure language')),
        qt AS (SELECT DISTINCT qid,
                 unnest(string_split_regex(lower(trim(qtext)), '\s+')) AS term
               FROM q)
       SELECT qt.qid, tf.doc_id,
              round(sum(
                ln(1 + (stats.n - tdf.df + 0.5) / (tdf.df + 0.5))
                * (tf.tf * (1.2 + 1))
                / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))
              ), 4) AS score
       FROM qt
       JOIN tf  ON tf.term = qt.term
       JOIN tdf ON tdf.term = qt.term
       JOIN dl  ON dl.doc_id = tf.doc_id
       CROSS JOIN stats
       GROUP BY qt.qid, tf.doc_id""",
)
def bm25_maintained_search(spark, sf):
    """Batch BM25 search through a MAINTAINED index: the even doc_ids
    form the base generation (write_bm25_index), the odd half arrives
    as a delta (append_bm25_index — the layout the exactly-once
    streaming sink produces), and the search runs over the base+delta
    union. The oracle is the FULL-corpus BM25 arithmetic: a maintained
    index must score identically to one built over the whole corpus in
    one shot — (n_docs, avgdl) folded exactly from integer sum_dl, term
    dfs summed AFTER the query-vocab restriction so the plan never
    shuffles the full vocabulary (operators/retrieval.py). Same
    float-safety rules as bm25_corpus_search: no top-k cut (the row set
    is float-free term membership), raw sum rounded ONCE at 4 on both
    sides.

    ROTATION-POOL member (entered round 10, occupying the slot that
    round to earn its first green gate row): while it sits out,
    bm25_corpus_search keeps the retrieval family's oracle row green
    and tests/test_retrieval.py pins the delta fold
    (test_append_visible_without_rebuild_and_matches_full_rebuild) plus
    the fold-after-restriction plan shape (TestDeltaFoldPlan)."""
    import os

    from rtstore_spark.operators.retrieval import (
        _batch_scratch,
        append_bm25_index,
        bm25_search_batch,
        read_bm25_index,
        write_bm25_index,
    )

    docs = load_table(spark, sf, "documents")
    # one index path per process under the BM25 scratch root (removed at
    # exit, or ``$RTSTORE_SCRATCH_DIR``'s own lifecycle): the gate and the
    # bench invoke registry callables repeatedly, and a repeat call is an
    # in-place rebuild — the generation protocol sweeps old generations
    # itself (so evaluate each returned DataFrame before invoking again;
    # the gate and bench both do).
    path = os.path.join(_batch_scratch(spark), "bm25_maintained_search")
    write_bm25_index(
        docs.filter(F.col("doc_id") % 2 == 0), "text", "doc_id", path,
        n_buckets=16,
    )
    append_bm25_index(
        docs.filter(F.col("doc_id") % 2 == 1), "text", "doc_id", path
    )
    postings, term_df, stats = read_bm25_index(spark, path)
    queries = spark.createDataFrame(
        [
            (0, "model training data"),
            (1, "the of and"),
            (2, "pattern structure language"),
        ],
        "qid long, text string",
    )
    return bm25_search_batch(
        postings, term_df, stats, queries,
        k=1_000_000,  # no cut: all matches
        round_to=4,   # single round of the raw sum, same as the SQL
    ).select("qid", F.col("id").alias("doc_id"), "score")


@register(
    "minhash_signature",
    _minhash_wide_sql() + "\n"
    + "\n UNION ALL ".join(
        f"SELECT doc_id, {h} AS h, mh{h} AS minhash FROM wide" for h in range(8)
    ),
)
def minhash_signature(spark, sf):
    """MinHash signatures over 3-token shingles, 8 hash functions (long
    form). Scale path: shingle explode is map-local; ONE
    partial-aggregated shuffle of (doc_id, 8 mins) — wide-form compute,
    unpivoted after (operators.dedup.minhash_signatures_wide).

    ROTATION-POOL member (see _ROTATION_POOL below): retired at the
    50-entry cap in round 8 (its signatures stay transitively pinned by
    minhash_lsh_pairs + test_operators), rotated back IN for round 9 so
    the standalone row re-earns a green gate."""
    from rtstore_spark.operators.dedup import minhash_signatures

    docs = load_table(spark, sf, "documents")
    return minhash_signatures(docs, "text", "doc_id", num_hashes=8).select(
        F.col("id").alias("doc_id"), "h", "minhash"
    )


@register(
    "minhash_lsh_pairs",
    _minhash_wide_sql()
    + """,
        bands AS (
          """
    + "\n UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, mh{2 * b}::VARCHAR || '-' || mh{2 * b + 1}::VARCHAR AS band_sig FROM wide"
        for b in range(4)
    )
    + """)
       SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       FROM bands a JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
       WHERE a.doc_id < b.doc_id""",
)
def minhash_lsh_pairs(spark, sf):
    """LSH candidate pairs: 4 bands x 2 rows over the 8-hash signature.

    Scale path: wide signatures (one shuffle), band signatures as pure
    projections, then docs join only within (band, band_sig) buckets — the
    classic shingle→minhash→band→bucket-join pipeline; no O(n^2) comparison.

    Registry note (round 8): this entry ABSORBED the former standalone
    minhash_signature row (50-entry cap; slot freed for
    bm25_corpus_search) — the band signatures here derive from those
    exact signatures, so any signature bug changes this row set and
    still fails the gate; the long-form unpivot
    (dedup.minhash_signatures) stays pinned by test_operators.
    """
    from rtstore_spark.operators.dedup import (
        lsh_candidate_pairs_wide,
        minhash_signatures_wide,
    )

    docs = _fanned(spark, sf, "documents", "doc_id")
    wide = minhash_signatures_wide(docs, "text", "doc_id", num_hashes=8)
    return lsh_candidate_pairs_wide(wide, bands=4, rows_per_band=2).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )


@register(
    "ngram_jaccard_pairs",
    r"""WITH tok AS (
          SELECT DISTINCT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
          FROM documents),
        sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
          FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)
       SELECT doc_a, doc_b,
              round(n_inter * 1.0 / (sa.n + sb.n - n_inter), 6) AS jaccard
       FROM inter JOIN sizes sa ON doc_a = sa.doc_id
                  JOIN sizes sb ON doc_b = sb.doc_id
       WHERE n_inter * 1.0 / (sa.n + sb.n - n_inter) >= 0.8""",
)
def ngram_jaccard_pairs(spark, sf):
    """Exact token-set Jaccard for high-similarity pairs.

    This is the *verification* stage run after LSH candidate generation; the
    token-level inverted-index join shown here is exact but O(sum of postings
    squared) — at 100 TB you run it only on LSH candidates (minhash_lsh_pairs)
    rather than the whole corpus.
    """
    docs = load_table(spark, sf, "documents")
    tok = docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("tok")).distinct()
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = tok.alias("a")
    b = tok.alias("b")
    inter = (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("n_inter") * F.lit(1.0) / (F.col("sa.n") + F.col("sb.n") - F.col("n_inter"))
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(jac >= 0.8)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


@register(
    "simhash32",
    r"""WITH tok AS (
          SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
          FROM documents),
        th AS (
          SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS hv FROM tok),
        bits AS (
          SELECT doc_id, unnest(generate_series(0, 31)) AS i, hv FROM th),
        sums AS (
          SELECT doc_id, i,
                 CAST(SUM(CASE WHEN ((hv >> i) & 1) = 1 THEN 1 ELSE -1 END) AS BIGINT) AS s
          FROM bits GROUP BY doc_id, i)
       SELECT doc_id,
              CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS simhash
       FROM sums GROUP BY doc_id""",
)
def simhash32(spark, sf):
    """32-bit SimHash over token frequencies — near-dup fingerprint whose
    Hamming distance approximates cosine similarity of the token vectors.
    Wide-form single-shuffle compute (operators.dedup.simhash); the
    doc_id-keyed fan-out IS that shuffle (the per-doc agg reuses it)."""
    from rtstore_spark.operators.dedup import simhash

    docs = _fanned(spark, sf, "documents", "doc_id")
    return simhash(docs, "text", "doc_id", bits=32).select(
        F.col("id").alias("doc_id"), "simhash"
    )


@register(
    "text_quality",
    r"""SELECT doc_id, lang,
              len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
              length(regexp_replace(text, '\s', '', 'g')) AS n_chars_no_ws,
              round(length(regexp_replace(text, '\s', '', 'g')) * 1.0
                    / len(regexp_split_to_array(trim(text), '\s+')), 6) AS avg_token_len,
              len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS n_bpe_ish,
              len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_pii_email,
              len(regexp_extract_all(text, '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS n_pii_ipv4,
              round(1.0 - len(list_distinct(string_split(text, chr(10)))) * 1.0
                    / greatest(len(string_split(text, chr(10))), 1), 6) AS dup_line_frac
       FROM documents""",
)
def text_quality(spark, sf):
    """Quality-scoring features: whitespace token count, char density, mean
    token length, a BPE-ish token estimate (words + digits + punctuation as
    separate tokens), PII detection counts (operators/text.py:PII_PATTERNS),
    and the Gopher-style duplicate-line fraction
    (operators.text.repetition_metrics)."""
    from rtstore_spark.operators.text import PII_PATTERNS

    docs = _fanned(spark, sf, "documents", "doc_id")
    n_tokens = F.size(_tokens(F.col("text")))
    no_ws = F.length(F.regexp_replace(F.col("text"), r"\s", ""))
    lines = F.split(F.col("text"), "\n")
    return docs.select(
        "doc_id", "lang",
        n_tokens.alias("n_tokens"),
        no_ws.alias("n_chars_no_ws"),
        F.round(no_ws * F.lit(1.0) / n_tokens, 6).alias("avg_token_len"),
        F.size(F.expr(r"regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]', 0)")).alias("n_bpe_ish"),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(PII_PATTERNS["email"]), F.lit(0))
        ).alias("n_pii_email"),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(PII_PATTERNS["ipv4"]), F.lit(0))
        ).alias("n_pii_ipv4"),
        F.round(
            F.lit(1.0)
            - F.size(F.array_distinct(lines))
            / F.greatest(F.size(lines), F.lit(1)),
            6,
        ).alias("dup_line_frac"),
    )


@register(
    "lm_perplexity",
    r"""WITH toks AS (
          SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
          FROM documents),
        uni AS (
          SELECT w, count(*) AS c
          FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w),
        tot AS (SELECT sum(c)::DOUBLE AS n FROM uni),
        db AS (
          SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
          FROM (SELECT doc_id, t,
                       unnest(generate_series(1, len(t) - 1)) AS i
                FROM toks WHERE len(t) >= 2)),
        big AS (SELECT w1, w2, count(*) AS c FROM db GROUP BY w1, w2),
        big_kept AS (
          SELECT w1, w2, c FROM (
            SELECT w1, w2, c,
                   row_number() OVER (ORDER BY c DESC, w1, w2) AS rn FROM big)
          WHERE rn <= 100000),
        bigp AS (
          SELECT b.w1, b.w2, b.c * 1.0 / u.c AS p_big
          FROM big_kept b JOIN uni u ON b.w1 = u.w),
        uni_kept AS (
          SELECT w, c FROM (
            SELECT w, c, row_number() OVER (ORDER BY c DESC, w) AS rn FROM uni)
          WHERE rn <= 50000),
        scored AS (
          SELECT d.doc_id,
                 0.9 * coalesce(p.p_big, 0)
                 + 0.1 * coalesce(u.c / tot.n, 1.0 / tot.n) AS p
          FROM db d
          LEFT JOIN bigp p ON d.w1 = p.w1 AND d.w2 = p.w2
          LEFT JOIN uni_kept u ON d.w2 = u.w
          CROSS JOIN tot)
       SELECT doc_id, count(*) AS n_bigrams,
              round(avg(-ln(p)), 6) AS cross_entropy
       FROM scored GROUP BY doc_id""",
)
def lm_perplexity(spark, sf):
    """CCNet-style bigram-LM cross-entropy per document
    (operators.lm.lm_fit + lm_perplexity): fit an interpolated bigram LM
    on the corpus, score each document's average token surprisal. The
    pruned-LM caps (100k bigrams / 50k unigrams) don't bind at sf0.01 but
    the pruning path runs in both engines. ppl = exp(ce) is omitted from
    the compare (monotone in ce; exp amplifies fp ulps past round-6)."""
    from rtstore_spark.operators.lm import lm_fit, lm_perplexity as score

    docs = load_table(spark, sf, "documents")
    model = lm_fit(docs, "text", max_unigrams=50_000, max_bigrams=100_000)
    out = score(docs, model, "text", "doc_id")
    return out.select(
        F.col("id").alias("doc_id"),
        "n_bigrams",
        F.round("cross_entropy", 6).alias("cross_entropy"),
    )


@register(
    "ann_cosine_topk",
    """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        sims AS (
          SELECT vec_id, label,
                 round(list_inner_product(embedding::DOUBLE[], qv)
                       / (sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                          * sqrt(list_inner_product(qv, qv))), 6) AS cosine
          FROM embeddings, q WHERE vec_id != 0)
       SELECT vec_id, label, cosine FROM sims
       ORDER BY cosine DESC, vec_id LIMIT 10""",
)
def ann_cosine_topk(spark, sf):
    """Brute-force cosine top-k against a query vector (the exact baseline;
    the LSH-bucketed variant lives in operators.similarity for the scale path).

    The query vector is broadcast; similarity is a JVM-side zip_with/aggregate
    over the float array — no Python, no shuffle until the final top-k reduce.
    ||q|| is computed ONCE on the one-row broadcast side (same expression,
    so the double is bit-identical) instead of re-running a d-element
    aggregate per corpus row — 1/3 less per-row lambda work (guide §1.2
    step 2: per-task work).
    """
    emb = load_table(spark, sf, "embeddings")
    dot = "aggregate(zip_with(a, b, (x, y) -> cast(x as double) * cast(y as double)), 0.0D, (acc, v) -> acc + v)"
    q = emb.filter(F.col("vec_id") == 0).selectExpr(
        "embedding AS qv",
        f"sqrt({dot.replace('a, b', 'embedding, embedding')}) AS qnorm",
    )
    joined = emb.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(q))
    cos = F.expr(
        f"round(({dot.replace('a, b', 'embedding, qv')})"
        f" / (sqrt({dot.replace('a, b', 'embedding, embedding')})"
        f" * qnorm), 6)"
    )
    return (
        joined.select("vec_id", "label", cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(10)
    )


@register(
    "embedding_centroids",
    """SELECT label, count(*) AS n,
              round(avg(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6) AS avg_sq_norm
       FROM embeddings GROUP BY label""",
)
def embedding_centroids(spark, sf):
    """Per-label embedding stats (IVF-style coarse partition summary)."""
    emb = load_table(spark, sf, "embeddings")
    sq = "aggregate(zip_with(embedding, embedding, (x, y) -> cast(x as double) * cast(y as double)), 0.0D, (acc, v) -> acc + v)"
    return (
        emb.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg(F.expr(sq)), 6).alias("avg_sq_norm"),
        )
    )


@register(
    "q_asof_attribution",
    """WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase')
       SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us,
              coalesce(p.value, -1.0) AS purchase_value
       FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts""",
)
def q_asof_attribution(spark, sf):
    """As-of join: each click attributed to the user's most recent prior
    purchase (operators.asof.asof_join — union-tag-window, one shuffle, no
    inequality-join explosion). DuckDB's native ASOF JOIN is the oracle."""
    from rtstore_spark.operators.asof import asof_join

    ev = load_table(spark, sf, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    out = asof_join(
        clicks, purchases, on="user_id", left_ts="ts", right_ts="ts",
        value_cols=["value"],
    )
    return out.select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us"),
        F.coalesce(F.col("value_right"), F.lit(-1.0)).alias("purchase_value"),
    )


@register(
    "lang_id_votes",
    r"""WITH t AS (
          SELECT doc_id,
                 list_distinct(regexp_split_to_array(lower(trim(text)), '\s+')) AS toks,
                 round(length(regexp_replace(text, '[^\p{Han}]', '', 'g')) * 1.0
                       / greatest(length(text), 1), 6) AS han_ratio,
                 round(length(regexp_replace(text, '[^a-z ]', '', 'g')) * 1.0
                       / greatest(length(text), 1), 6) AS ascii_ratio
          FROM documents),
        s AS (
          SELECT doc_id, han_ratio, ascii_ratio,
                 len(list_intersect(toks, ['the','and','of','to','in','is','that','it'])) AS score_en,
                 len(list_intersect(toks, ['le','la','les','et','des','est','que','une'])) AS score_fr,
                 len(list_intersect(toks, ['der','die','das','und','ist','nicht','ein','zu'])) AS score_de,
                 len(list_intersect(toks, ['el','la','los','de','que','es','una','por'])) AS score_es
          FROM t)
       SELECT doc_id, han_ratio, ascii_ratio,
              CASE WHEN ascii_ratio > 0.9 THEN 'latin' ELSE 'other' END AS script_guess,
              score_en, score_fr, score_de, score_es,
              CASE WHEN han_ratio >= 0.2 THEN 'zh'
                   WHEN greatest(score_en, score_fr, score_de, score_es) = 0 THEN 'und'
                   WHEN score_en = greatest(score_en, score_fr, score_de, score_es) THEN 'en'
                   WHEN score_fr = greatest(score_en, score_fr, score_de, score_es) THEN 'fr'
                   WHEN score_de = greatest(score_en, score_fr, score_de, score_es) THEN 'de'
                   ELSE 'es' END AS pred_lang
       FROM s""",
)
def lang_id_votes(spark, sf):
    """Script-aware stopword-vote language ID (operators.text.lang_id):
    Han-ratio >= 0.2 -> zh (stopword votes are blind to CJK), else the
    per-language vote. Oracle mirrors the regex as RE2 \\p{Han}.

    The former standalone lang_id_heuristic entry (ascii-ratio + latin/
    other script guess) folds in here as two extra columns — one lang-id
    entry covering both the character-class gate and the stopword vote
    freed the registry slot lm_perplexity now occupies (the driver caps
    the registry at 50)."""
    from rtstore_spark.operators.text import lang_id

    docs = load_table(spark, sf, "documents")
    ascii_len = F.length(F.regexp_replace(F.col("text"), "[^a-z ]", ""))
    ratio = ascii_len * F.lit(1.0) / F.greatest(F.length("text"), F.lit(1))
    out = lang_id(
        docs, "text", "doc_id",
        extra=[
            F.round(ratio, 6).alias("ascii_ratio"),
            F.when(ratio > 0.9, "latin").otherwise("other").alias("script_guess"),
        ],
    )
    return out.select(
        F.col("id").alias("doc_id"), "han_ratio", "ascii_ratio",
        "script_guess", "score_en", "score_fr", "score_de", "score_es",
        "pred_lang",
    )


@register(
    "winnow_fingerprints",
    r"""WITH t AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        sh AS (
          SELECT doc_id, CASE WHEN len(toks) >= 8
            THEN list_transform(generate_series(1, len(toks) - 7),
                                i -> array_to_string(toks[i:i+7], ' '))
            ELSE [array_to_string(toks, ' ')] END AS shingles
          FROM t),
        e AS (SELECT DISTINCT doc_id, unnest(shingles) AS shingle FROM sh),
        hv AS (SELECT DISTINCT doc_id,
                      ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS hv FROM e)
       SELECT doc_id, hv FROM (
         SELECT doc_id, hv, row_number() OVER (PARTITION BY doc_id ORDER BY hv) AS rn
         FROM hv) WHERE rn <= 4""",
)
def winnow_fingerprints(spark, sf):
    """Winnowing-style containment fingerprints: 4 smallest 8-token-shingle
    hashes per doc (long form). Per-partition top-k via the rank window —
    one shuffle on doc_id."""
    from rtstore_spark.operators.dedup import shingles

    docs = load_table(spark, sf, "documents")
    # shingle-level distinct is subsumed by the hash-level distinct below
    sh = shingles(docs, "text", "doc_id", n=8, distinct=False)
    hv = sh.select("id", _hash32(F.col("shingle")).alias("hv")).distinct()
    w = Window.partitionBy("id").orderBy("hv")
    return (
        hv.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 4)
        .select(F.col("id").alias("doc_id"), "hv")
    )


@register(
    "embedding_neardup",
    """WITH e AS (
         SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 100)
       SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
              round(list_inner_product(a.v, b.v)
                    / (sqrt(list_inner_product(a.v, a.v))
                       * sqrt(list_inner_product(b.v, b.v))), 6) AS cosine
       FROM e a JOIN e b ON a.vec_id < b.vec_id
       WHERE list_inner_product(a.v, b.v)
             / (sqrt(list_inner_product(a.v, a.v))
                * sqrt(list_inner_product(b.v, b.v))) >= 0.15""",
)
def embedding_neardup(spark, sf):
    """Embedding near-dup pairs, brute-force on a bounded slice (the exact
    verification kernel; corpus-scale candidate generation is the LSH path
    in operators.dedup.embedding_neardup_pairs)."""
    from rtstore_spark.operators.similarity import cosine_expr

    emb = load_table(spark, sf, "embeddings").filter(F.col("vec_id") < 100)
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("vb"))
    cos = cosine_expr("va", "vb")
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= 0.15)
        .select("vec_a", "vec_b", F.round("cosine", 6).alias("cosine"))
    )


@register(
    "multimodal_features",
    """SELECT doc_id AS media_id, 'text-blob' AS kind,
              octet_length(encode(text)) AS n_bytes,
              substr(sha256(text), 1, 16) AS sha16
       FROM documents""",
)
def multimodal_features(spark, sf):
    """Multimodal plumbing under the oracle gate: text bytes as stand-in
    blobs through the canonical media schema and the Arrow-batched
    mapInPandas feature extractor; the deterministic columns (byte length,
    sha) are oracle-checked, the stub feature vector is exercised but
    dropped from the comparison."""
    from rtstore_spark.operators.multimodal import attach_media, extract_features

    docs = load_table(spark, sf, "documents")
    blobs = docs.select("doc_id", F.encode(F.col("text"), "utf-8").alias("blob"))
    media = attach_media(blobs, "doc_id", "blob", "text-blob")
    feats = extract_features(media, feature_dim=4)
    return feats.select("media_id", F.lit("text-blob").alias("kind"), "n_bytes", "sha16")


@register(
    "ann_lsh_topk",
    r"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        bits AS (
          SELECT vec_id, p,
            CASE WHEN list_sum(list_transform(range(len(v)),
              i -> v[i+1] * (('0x'||substr(md5('lsh:'||p::VARCHAR||':'||i::VARCHAR),1,8))::BIGINT/2147483648.0 - 1.0))) >= 0
            THEN '1' ELSE '0' END AS bit
          FROM e, generate_series(0,5) t(p)),
        buckets AS (SELECT vec_id, string_agg(bit, '' ORDER BY p) AS bucket
                    FROM bits GROUP BY vec_id),
        qb AS (SELECT bucket AS qbucket FROM buckets WHERE vec_id = 0),
        qv AS (SELECT v AS q FROM e WHERE vec_id = 0),
        hits AS (
          SELECT b.vec_id FROM buckets b, qb
          WHERE b.vec_id != 0 AND
            list_sum(list_transform(range(6), i ->
              CASE WHEN substr(b.bucket, i+1, 1) != substr(qb.qbucket, i+1, 1)
                   THEN 1 ELSE 0 END)) <= 1)
       SELECT e.vec_id AS id,
              round(list_inner_product(e.v, q)
                    / (sqrt(list_inner_product(e.v, e.v))
                       * sqrt(list_inner_product(q, q))), 6) AS cosine
       FROM e JOIN hits USING (vec_id), qv
       ORDER BY cosine DESC, id LIMIT 10""",
)
def ann_lsh_topk(spark, sf):
    """Hyperplane-LSH ANN probe (multi-probe, deterministic planes).

    The oracle replays the exact md5-derived plane family
    (``_plane_component``: ``int(md5(f"{seed}:{p}:{i}")[:8], 16)/2^31 - 1``)
    as a DuckDB lambda, rebuilds every vector's 6-bit sign bucket, probes the
    query bucket plus Hamming-1 neighbors, and ranks by exact cosine — the
    same algorithm end-to-end, independently expressed.
    """
    from rtstore_spark.operators.similarity import build_lsh_index, lsh_topk

    emb = load_table(spark, sf, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    index = build_lsh_index(emb.filter(F.col("vec_id") != 0), "embedding", "vec_id", planes=6)
    return lsh_topk(index, qvec, k=10, planes=6)


@register(
    "ann_ivf_topk",
    """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        elems AS (
          SELECT label, unnest(v) AS x, unnest(generate_series(1, len(v))) AS i
          FROM e WHERE vec_id != 0),
        cents AS (
          SELECT label, list(ax ORDER BY i) AS centroid
          FROM (SELECT label, i, avg(x) AS ax FROM elems GROUP BY label, i)
          GROUP BY label),
        ranked AS (
          SELECT label FROM cents, q
          ORDER BY list_inner_product(centroid, qv)
                   / (sqrt(list_inner_product(centroid, centroid))
                      * sqrt(list_inner_product(qv, qv))) DESC
          LIMIT 2),
        probed AS (SELECT e.vec_id, e.v FROM e JOIN ranked USING (label)
                   WHERE vec_id != 0)
       SELECT vec_id AS id,
              round(list_inner_product(v, qv)
                    / (sqrt(list_inner_product(v, v))
                       * sqrt(list_inner_product(qv, qv))), 6) AS cosine
       FROM probed, q
       ORDER BY cosine DESC, id LIMIT 10""",
)
def ann_ivf_topk(spark, sf):
    """IVF-style ANN (operators.similarity.ivf_topk): per-label centroids
    rank the coarse routes, only the best nprobe=2 routes are scanned,
    exact cosine within. The oracle independently rebuilds the element-wise
    centroid means (unnest + group-by-position), replays the route ranking
    and the probed exact-cosine top-k. At scale the probed scan is a
    partition-pruned read of a route-partitioned index
    (``write_ivf_index``) with persisted centroids — the corpus never
    rescans per query."""
    from rtstore_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf, "embeddings")
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]
    return ivf_topk(
        emb.filter(F.col("vec_id") != 0),
        "embedding", "vec_id", "label", qvec, k=10, nprobe=2,
    )


# ---------------------------------------------------------------------------
# public accessors (consumed by __spark_entry__.py)
# ---------------------------------------------------------------------------


# The driver records correctness rows in registration order and truncated the
# round-1 run at 50 entries, silently dropping the tail. Keep the registry at
# exactly 50 and surface the entries that were dropped last round first, so a
# truncated run can never leave an operator family unverified again.
_FIRST = ["winnow_fingerprints", "embedding_neardup", "multimodal_features", "ann_lsh_topk"]

# Rotation policy (round-8 verdict #5). The 50-entry cap means a new
# operator's oracle row must displace an old one — and before round 9 a
# displaced entry silently lost oracle coverage FOREVER. Now the registry
# is 49 STABLE core entries + 1 ROTATING slot. _ROTATION_POOL holds the
# entries eligible to rotate; the POOL INVARIANT every member must
# satisfy: while it sits out, its operator family keeps at least one
# other green oracle row PLUS a pytest pin of the sat-out entry's own
# behavior (minhash_signature → minhash_lsh_pairs derives from the same
# signatures + test_operators pins the unpivot; q_events_pivot →
# q_events_hourly/q_user_sessions keep the events-agg family green +
# test_inventory pins the pivot column contract; bm25_maintained_search
# → bm25_corpus_search keeps retrieval green + test_retrieval pins the
# delta fold and its plan shape). ROTATION_ROUND picks the occupant, so
# every pool entry re-earns a green gate row within len(_ROTATION_POOL)
# rounds. NEW oracle-worthy entries land THROUGH the pool (register +
# append to the pool + pick the round ordering that seats them first),
# never by ad-hoc displacement of a stable entry; to retire a future
# entry, move it into the pool instead of deleting its registration.
ROTATION_ROUND = 12  # bump each round (12 % 3 = 0 → q_events_pivot in)
_ROTATION_POOL = [
    "q_events_pivot", "bm25_maintained_search", "minhash_signature",
]


def _ordered() -> list[str]:
    in_slot = _ROTATION_POOL[ROTATION_ROUND % len(_ROTATION_POOL)]
    names = [
        n for n in _REGISTRY if n == in_slot or n not in _ROTATION_POOL
    ]
    return _FIRST + [n for n in names if n not in _FIRST]


def queries():
    return {name: _REGISTRY[name][0] for name in _ordered()}


def oracle_sql():
    return {
        name: _REGISTRY[name][1] for name in _ordered() if _REGISTRY[name][1] is not None
    }


def flagship(spark: SparkSession, sf_dir: str = "/root/testdata/sf0.001") -> DataFrame:
    return q1_pricing_summary(spark, sf_dir)
