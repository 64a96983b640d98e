"""§2.8 Scalar functions (SURVEY.md) — string / date / math / array /
map / json / conditional.

Reference analogue: the html_cleaner / html_extracter stages (regex
cleanup of volatile HTML for stable hashing), content fingerprinting
(the change-detection digest), scraped-number parsing, and scan-time
bucketing.  Everything stays in built-in ``pyspark.sql.functions`` —
JVM-side, whole-stage-codegen'd; no Python crosses the row path.

Dialect parity notes (the real work of this module):
- Spark ``regexp_replace`` replaces ALL matches; DuckDB needs the
  explicit ``'g'`` flag.
- Spark ``datediff(end, start)`` vs DuckDB ``date_diff('day', start,
  end)`` — reversed argument order.
- double->int CAST truncates in Spark but ROUNDS in DuckDB — always go
  through an explicit floor/trunc first.
- ``round`` is HALF_UP in Spark, HALF_EVEN in DuckDB — only round
  values that cannot sit on a half boundary (irrational outputs), never
  2-decimal money at digit <= 1.
- DATE-typed outputs are emitted as ISO strings (pandas round-trip of
  DATE differs between engines).
- list functions: size/len, array_contains/list_contains,
  array_distinct/list_distinct (order unspecified -> always sort),
  slice(arr, pos, len) vs list_slice(l, begin, end_inclusive).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load
from ..registry import query


@query(
    "str_clean_pipeline",
    oracle="""
    SELECT doc_id,
           trim(regexp_replace(
               '<html><script>var t=' || CAST(doc_id AS VARCHAR)
                   || ';</script><body>' || upper(text) || '</body></html>',
               '(?:<script>.*?</script>|<[^>]*>|\\s)+', ' ', 'g')) AS cleaned,
           length(trim(regexp_replace(
               '<html><script>var t=' || CAST(doc_id AS VARCHAR)
                   || ';</script><body>' || upper(text) || '</body></html>',
               '(?:<script>.*?</script>|<[^>]*>|\\s)+', ' ', 'g'))) AS n_clean
    FROM documents
    """,
)
def str_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The html_cleaner stage: strip volatile <script> spans, strip
    tags, collapse whitespace, trim — the canonicalization that makes
    content hashing stable.  (HTML wrapper synthesized from doc_id +
    text since fixtures carry plain text; upper() stands in for the
    case-normalization step.)

    The three round-2 regex passes (script-strip, tag-strip, whitespace
    collapse) are FUSED into one alternation: any run of script spans /
    tags / whitespace becomes a single space, which is exactly what the
    three-pass pipeline produced (a stripped span is always flanked by a
    tag or whitespace here, so ''-vs-' ' replacement cannot glue words).
    Script alternative is listed FIRST — leftmost-first matching in both
    java.util.regex and RE2 — so script CONTENT is dropped, not just the
    <script> tags.  One regex pass over the corpus instead of three."""
    d = load(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><script>var t="),
        F.col("doc_id").cast("string"),
        F.lit(";</script><body>"),
        F.upper("text"),
        F.lit("</body></html>"),
    )
    cleaned = F.trim(
        F.regexp_replace(html, r"(?:<script>.*?</script>|<[^>]*>|\s)+", " ")
    )
    return d.select(
        "doc_id", cleaned.alias("cleaned"), F.length(cleaned).alias("n_clean")
    )


@query(
    "str_extract",
    oracle="""
    SELECT o_orderkey,
           regexp_extract(o_orderpriority, '([0-9]+)', 1) AS prio_num,
           split_part(o_orderpriority, '-', 2) AS prio_word,
           substring(o_orderpriority, 1, 1) AS prio_char,
           concat_ws('/', o_orderstatus, o_orderpriority) AS status_prio,
           lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS key_padded
    FROM orders
    """,
)
def str_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The html_extracter stage in miniature: regex group extraction,
    splitting, substring, concat_ws, lpad over order priorities."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.regexp_extract("o_orderpriority", "([0-9]+)", 1).alias("prio_num"),
        F.split("o_orderpriority", "-").getItem(1).alias("prio_word"),
        F.substring("o_orderpriority", 1, 1).alias("prio_char"),
        F.concat_ws("/", "o_orderstatus", "o_orderpriority").alias("status_prio"),
        F.lpad(F.col("o_orderkey").cast("string"), 12, "0").alias("key_padded"),
    )


@query(
    "str_hash_digest",
    oracle="""
    SELECT doc_id,
           sha256(text) AS digest,
           md5(text) AS digest_md5,
           length(text) AS n_chars_computed
    FROM documents
    """,
)
def str_hash_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprinting — the heart of the reference's change
    detection: sha256 + md5 digests per document."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.sha2("text", 256).alias("digest"),
        F.md5("text").alias("digest_md5"),
        F.length("text").alias("n_chars_computed"),
    )


@query(
    "date_parts_arith",
    oracle="""
    SELECT o_orderkey,
           EXTRACT(year FROM o_orderdate) AS yr,
           EXTRACT(month FROM o_orderdate) AS mo,
           EXTRACT(day FROM o_orderdate) AS dy,
           EXTRACT(quarter FROM o_orderdate) AS qtr,
           date_trunc('month', o_orderdate) AS month_start,
           date_diff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS days_to_y2k,
           strftime(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY, '%Y-%m-%d') AS plus_30d,
           strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end
    FROM orders
    """,
)
def date_parts_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan-time bucketing: year/month/day/quarter parts, month
    truncation, day differences (Spark datediff(end, start) == DuckDB
    date_diff('day', start, end) — note the reversed arguments),
    date_add, last_day."""
    o = load(spark, sf_dir, "orders")
    od = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(od).cast("long").alias("yr"),
        F.month(od).cast("long").alias("mo"),
        F.dayofmonth(od).cast("long").alias("dy"),
        F.quarter(od).cast("long").alias("qtr"),
        F.date_trunc("month", od).alias("month_start"),
        F.datediff(F.lit("2000-01-01").cast("date"), od.cast("date"))
        .cast("long")
        .alias("days_to_y2k"),
        F.date_format(F.date_add(od.cast("date"), 30), "yyyy-MM-dd").alias("plus_30d"),
        F.date_format(F.last_day(od.cast("date")), "yyyy-MM-dd").alias("month_end"),
    )


@query(
    "ts_funcs",
    oracle="""
    SELECT event_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
           epoch_us(ts) AS epoch_micro,
           EXTRACT(hour FROM ts) AS hr,
           EXTRACT(minute FROM ts) AS mi,
           strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
           strftime(to_timestamp(CAST(floor(epoch(ts)) AS BIGINT)),
                    '%Y-%m-%d %H:%M:%S') AS from_epoch
    FROM events
    """,
)
def ts_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch math on event timestamps: unix seconds (both engines floor),
    epoch micros, hour/minute parts, to_date, from_unixtime round-trip."""
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.unix_timestamp("ts").alias("epoch_s"),
        F.unix_micros("ts").alias("epoch_micro"),
        F.hour("ts").cast("long").alias("hr"),
        F.minute("ts").cast("long").alias("mi"),
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
        F.from_unixtime(F.unix_timestamp("ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "from_epoch"
        ),
    )


@query(
    "math_funcs",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           floor(l_extendedprice) AS price_floor,
           ceil(l_extendedprice) AS price_ceil,
           abs(l_discount - 0.05) AS disc_dev,
           round(sqrt(l_extendedprice), 6) AS price_sqrt,
           round(ln(l_extendedprice + 1), 6) AS price_ln,
           round(pow(l_quantity, 2), 6) AS qty_sq,
           CAST(sign(l_discount - 0.05) AS DOUBLE) AS disc_sign,
           CAST(l_orderkey % 7 AS BIGINT) AS key_mod,
           greatest(l_discount, l_tax) AS max_rate,
           least(l_discount, l_tax) AS min_rate
    FROM lineitem
    """,
)
def math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metric math: floor/ceil/abs/sqrt/ln/pow/sign/mod/greatest/least.
    round() only applied to irrational outputs (sqrt/ln) where the
    HALF_UP-vs-HALF_EVEN divergence cannot trigger; floor/ceil emitted
    as double (both engines agree on the value)."""
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.floor("l_extendedprice").cast("double").alias("price_floor"),
        F.ceil("l_extendedprice").cast("double").alias("price_ceil"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.round(F.sqrt("l_extendedprice"), 6).alias("price_sqrt"),
        F.round(F.log(F.col("l_extendedprice") + 1), 6).alias("price_ln"),
        F.round(F.pow("l_quantity", F.lit(2)), 6).alias("qty_sq"),
        F.signum(F.col("l_discount") - 0.05).alias("disc_sign"),
        (F.col("l_orderkey") % 7).alias("key_mod"),
        F.greatest("l_discount", "l_tax").alias("max_rate"),
        F.least("l_discount", "l_tax").alias("min_rate"),
    )


@query(
    "cond_case_coalesce",
    oracle="""
    SELECT event_id,
           CASE WHEN value >= 100 THEN 'critical'
                WHEN value >= 50  THEN 'high'
                WHEN value >= 10  THEN 'medium'
                ELSE 'low' END AS severity,
           coalesce(NULLIF(event_type, 'error'), 'FAILED') AS status,
           CASE WHEN NULLIF(event_type, 'error') IS NOT NULL
                THEN 'ok' ELSE 'failed' END AS nvl2_status
    FROM events
    """,
)
def cond_case_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Status classification (reference: changed/unchanged/failed):
    CASE tiers, nullif + coalesce fallback, nvl2 presence check."""
    ev = load(spark, sf_dir, "events")
    not_err = F.nullif(F.col("event_type"), F.lit("error"))
    return ev.select(
        "event_id",
        F.when(F.col("value") >= 100, "critical")
        .when(F.col("value") >= 50, "high")
        .when(F.col("value") >= 10, "medium")
        .otherwise("low")
        .alias("severity"),
        F.coalesce(not_err, F.lit("FAILED")).alias("status"),
        F.nvl2(not_err, F.lit("ok"), F.lit("failed")).alias("nvl2_status"),
    )


@query(
    "cast_conversions",
    oracle="""
    SELECT event_id,
           CAST(CAST(floor(value) AS BIGINT) AS VARCHAR) AS value_str,
           CAST(floor(value) AS BIGINT) AS value_int,
           TRY_CAST(event_type AS DOUBLE) AS bad_double,
           TRY_CAST(props->>'$.k' AS BIGINT) AS k_long,
           CAST(TRY_CAST('2024-13-45' AS DATE) IS NULL AS BOOLEAN) AS bad_date_is_null,
           CAST(CAST(value AS VARCHAR) AS DOUBLE) AS value_roundtrip
    FROM events
    """,
)
def cast_conversions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parsing scraped numbers: string<->int<->double<->date casts with
    try_cast on invalid input.  double->int always goes through an
    explicit floor — raw CAST truncates in Spark but rounds in DuckDB."""
    ev = load(spark, sf_dir, "events")
    vint = F.floor("value").cast("long")
    return ev.select(
        "event_id",
        vint.cast("string").alias("value_str"),
        vint.alias("value_int"),
        F.try_to_number("event_type", F.lit("999.99")).cast("double").alias("bad_double"),
        F.get_json_object("props", "$.k").cast("long").alias("k_long"),
        F.expr("TRY_CAST('2024-13-45' AS DATE)").isNull().alias("bad_date_is_null"),
        F.col("value").cast("string").cast("double").alias("value_roundtrip"),
    )


@query(
    "array_ops",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           list_contains(string_split(text, ' '), 'join') AS has_join,
           COALESCE(array_to_string(
               list_sort(list_distinct(string_split(text, ' '))), ' '), '')
               AS vocab,
           len(list_distinct(string_split(text, ' '))) AS n_vocab,
           COALESCE(array_to_string(
               list_slice(string_split(text, ' '), 1, 5), ' '), '') AS first5,
           COALESCE(array_to_string(
               list_sort(list_intersect(list_distinct(string_split(text, ' ')),
                                        ['join', 'filter', 'window', 'scan'])), ' '),
               '') AS ops_used
    FROM documents
    """,
)
def array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-level text handling: split -> size/contains/distinct/slice/
    intersect.  array_distinct & array_intersect output order is engine-
    specific, so every set-valued array is sorted before comparison, and
    arrays are joined back to strings for the scalar-only harness."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.array_contains(toks, "join").alias("has_join"),
        F.array_join(F.sort_array(F.array_distinct(toks)), " ").alias("vocab"),
        F.size(F.array_distinct(toks)).alias("n_vocab"),
        F.array_join(F.slice(toks, 1, 5), " ").alias("first5"),
        F.array_join(
            F.sort_array(
                F.array_intersect(
                    F.array_distinct(toks),
                    F.array(
                        F.lit("join"), F.lit("filter"), F.lit("window"), F.lit("scan")
                    ),
                )
            ),
            " ",
        ).alias("ops_used"),
    )


@query(
    "explode_tokens",
    oracle="""
    SELECT token, COUNT(*) AS tf
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
    HAVING COUNT(*) >= 5
    """,
)
def explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generator/UDTF shape: explode tokens to rows and count term
    frequency (reference: word-level extraction over cleaned text)."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .filter(F.col("tf") >= 5)
    )


@query(
    "map_ops",
    oracle="""
    SELECT event_id,
           CAST(props->>'$.k' AS INTEGER) AS k_from_map,
           1 AS map_size,
           'k' AS first_key
    FROM events
    """,
)
def map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType round-trip: build a map from the parsed JSON payload,
    then element_at / map_keys / size.  Output projected to scalars so
    the oracle stays engine-neutral (map hashing differs cross-engine)."""
    ev = load(spark, sf_dir, "events")
    m = F.create_map(F.lit("k"), F.from_json("props", "k INT").getField("k"))
    return ev.select(
        "event_id",
        F.element_at(m, "k").alias("k_from_map"),
        F.size(m).alias("map_size"),
        F.map_keys(m).getItem(0).alias("first_key"),
    )


@query(
    "json_ops",
    oracle="""
    SELECT event_id,
           props->>'$.k' AS k_str,
           CAST(props->>'$.k' AS INTEGER) AS k_int,
           '{"k":' || (props->>'$.k') || '}' AS normalized_json
    FROM events
    """,
)
def json_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON payload parsing (reference: state API/JSON sources):
    get_json_object path extraction, from_json to a typed struct,
    to_json normalization back out."""
    ev = load(spark, sf_dir, "events")
    parsed = F.from_json("props", "k INT")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        parsed.getField("k").alias("k_int"),
        F.to_json(parsed).alias("normalized_json"),
    )


@query(
    "array_hof",
    oracle="""
    SELECT doc_id,
           len(list_filter(toks, t -> length(t) > 4)) AS n_long,
           len(list_filter(toks, t -> t = 'spark')) > 0 AS has_spark,
           len(list_filter(toks, t -> length(t) >= 1)) = len(toks) AS all_nonempty,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(toks, t -> CAST(length(t) AS BIGINT))),
                (a, x) -> a + x) AS BIGINT) AS total_chars
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    """,
)
def array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions — filter / exists / forall /
    transform+aggregate over token arrays, the lambda surface that keeps
    per-row collection logic in whole-stage codegen instead of Python
    (reference analogue: per-page token screening in html_extracter).
    Integer outputs, so order of the fold is moot; the fold still runs
    element-ordered to match DuckDB list_reduce."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return d.select(
        "doc_id",
        F.size(F.filter(toks, lambda t: F.length(t) > 4)).alias("n_long"),
        F.exists(toks, lambda t: t == "spark").alias("has_spark"),
        F.forall(toks, lambda t: F.length(t) >= 1).alias("all_nonempty"),
        F.aggregate(
            F.transform(toks, lambda t: F.length(t).cast("long")),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ).alias("total_chars"),
    )


@query(
    "str_url_normalize",
    oracle="""
    SELECT norm_url,
           COUNT(*) AS n_pages,
           COUNT(DISTINCT lang) AS n_langs
    FROM (
        SELECT lang,
               regexp_replace(
                   regexp_replace(
                       lower(concat('HTTPS://', source, '.Example.GOV/Covid/',
                                    CAST(doc_id % 7 AS VARCHAR), '/',
                                    CASE WHEN doc_id % 2 = 0 THEN '' ELSE 'index.html' END,
                                    '?utm_source=feed&session=', CAST(doc_id AS VARCHAR),
                                    '#section-', lang)),
                       '[?#].*$', ''),
                   '/(index\\.html?)?$', '') AS norm_url
        FROM documents
    )
    GROUP BY norm_url
    """,
)
def str_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization — the reference's source-registry hygiene
    step: the same page arrives as HTTP/HTTPS, mixed case, with tracking
    params, fragments, trailing slashes or an explicit index.html, and
    must collapse to ONE registry key or every downstream change-compare
    splits across ghosts.  Synthesizes the messy variants
    deterministically from (source, doc_id, lang), then normalizes:
    lowercase -> strip query+fragment -> strip trailing /index.html.

    Pure string expressions in whole-stage codegen (regexp_replace is
    per-row, no shuffle until the final count); Spark replaces all
    matches by default while DuckDB needs the explicit 'g' flag — the
    anchored `$` patterns here match at most once, sidestepping the
    divergence entirely (SURVEY §2.8 flag)."""
    d = load(spark, sf_dir, "documents")
    raw = F.lower(
        F.concat(
            F.lit("HTTPS://"),
            F.col("source"),
            F.lit(".Example.GOV/Covid/"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit("/"),
            F.when(F.col("doc_id") % 2 == 0, F.lit("")).otherwise(F.lit("index.html")),
            F.lit("?utm_source=feed&session="),
            F.col("doc_id").cast("string"),
            F.lit("#section-"),
            F.col("lang"),
        )
    )
    norm = F.regexp_replace(
        F.regexp_replace(raw, r"[?#].*$", ""), r"/(index\.html?)?$", ""
    )
    return (
        d.select("lang", norm.alias("norm_url"))
        .groupBy("norm_url")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.countDistinct("lang").alias("n_langs"),
        )
    )


@query(
    "json_variant_ops",
    oracle="""
    SELECT CAST(CAST(json_extract(props, '$.k') AS INTEGER) // 10 AS BIGINT)
               AS k_bucket,
           COUNT(*) AS n_events,
           MIN(CAST(json_extract(props, '$.k') AS INTEGER)) AS min_k,
           MAX(CAST(json_extract(props, '$.k') AS INTEGER)) AS max_k,
           CAST(SUM(CASE WHEN json_extract(props, '$.absent') IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_absent_hits
    FROM events
    GROUP BY CAST(json_extract(props, '$.k') AS INTEGER) // 10
    """,
)
def json_variant_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT path — the modern semi-structured story beside
    the string-JSON functions of ``json_ops``: ``parse_json`` builds a
    binary VARIANT once, ``variant_get`` extracts typed fields with
    JSONPath, ``try_variant_get`` on a missing path yields NULL (counted
    here: must be zero hits).  At 100 TB this is the difference between
    re-parsing a JSON string per expression and shredding once into a
    columnar-friendly binary the reads share — the same move the
    open-table formats standardize.

    The VARIANT itself never leaves the plan (engines can't compare the
    binary); everything emitted is typed scalars, so the whole path is
    oracle-checked against DuckDB's json_extract."""
    ev = load(spark, sf_dir, "events")
    v = F.parse_json("props")
    fields = ev.select(
        F.variant_get(v, "$.k", "int").alias("k"),
        F.try_variant_get(v, "$.absent", "int").alias("absent"),
    )
    return (
        fields.select(
            F.expr("div(k, 10)").alias("k_bucket"), "k", "absent"
        )
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.sum(F.when(F.col("absent").isNotNull(), 1).otherwise(0)).alias(
                "n_absent_hits"
            ),
        )
    )


# deterministic case-diversification of p_brand — collation semantics
# are only witnessable if the fixture actually mixes cases
_CASED_BRAND_SQL = (
    "CASE WHEN p_partkey % 3 = 0 THEN upper(p_brand) "
    "WHEN p_partkey % 3 = 1 THEN lower(p_brand) ELSE p_brand END"
)


@query(
    "str_collate_group",
    oracle=f"""
    SELECT lower(cb) AS brand,
           COUNT(*) AS n,
           CAST(lower(cb) = 'brand#13' AS INTEGER) AS is_b13
    FROM (SELECT {_CASED_BRAND_SQL} AS cb FROM part)
    GROUP BY lower(cb)
    """,
)
def str_collate_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 string COLLATIONS: grouping and equality under
    UTF8_LCASE — the engine-level alternative to sprinkling lower()
    through every predicate (and the only correct option once
    collation-aware semantics like Turkish dotless-i matter).  The
    fixture's brands are case-uniform, so the input is deterministically
    case-diversified first (upper/lower/original by p_partkey % 3 —
    collation semantics would otherwise be unwitnessed); the groupBy
    runs ON THE COLLATED COLUMN (case-insensitive equality inside the
    hash aggregate — no lower() in the grouping key) and the constant
    comparison against 'brand#13' is likewise collated.  Output is
    canonicalized through lower() only for the cross-engine hash; DuckDB
    states the same semantics with explicit lower().  Scale: identical
    partial+final hash-agg shape as any groupBy — collation changes the
    comparator, not the plan."""
    p = load(spark, sf_dir, "part")
    cased = F.expr(_CASED_BRAND_SQL)
    return (
        p.select(F.collate(cased, "UTF8_LCASE").alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lower("b").alias("brand"),
            "n",
            (F.col("b") == F.collate(F.lit("brand#13"), "UTF8_LCASE"))
            .cast("int")
            .alias("is_b13"),
        )
    )


@query(
    "cast_try_permissive",
    oracle="""
    WITH raw AS (
        SELECT event_id % 5 AS bucket,
               CASE event_id % 5
                   WHEN 0 THEN 'abc'
                   WHEN 1 THEN ''
                   WHEN 2 THEN CAST(user_id AS VARCHAR)
                   WHEN 3 THEN ' ' || CAST(event_id AS VARCHAR) || ' '
                   ELSE '99999999999999999999'
               END AS s
        FROM events
    ),
    parsed AS (SELECT bucket, TRY_CAST(s AS BIGINT) AS v FROM raw)
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(v) AS BIGINT) AS n_parsed,
           CAST(SUM(v) AS BIGINT) AS sum_parsed
    FROM parsed GROUP BY bucket
    """,
)
def cast_try_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permissive numeric ingestion via ``try_cast`` — the
    bad-data-tolerant parse every raw feed needs (the row-level
    sibling of scan_csv_permissive's file-level mode): five
    deterministic malformation buckets (alphabetic junk, empty string,
    clean digits, whitespace-padded digits, int64 overflow) flow
    through TRY_CAST on both engines, and the per-bucket
    parsed-vs-total counts prove exactly which classes parse — both
    engines trim whitespace, reject junk/empty, and NULL (never wrap)
    the overflow.

    Map-only until the skinny 5-row rollup; at 100 TB this replaces
    the fail-the-job ANSI cast on quarantine lanes — rows that parse
    proceed, rows that don't are counted where monitoring can see
    them."""
    e = load(spark, sf_dir, "events")
    bucket = F.col("event_id") % 5
    s = (
        F.when(bucket == 0, F.lit("abc"))
        .when(bucket == 1, F.lit(""))
        .when(bucket == 2, F.col("user_id").cast("string"))
        .when(
            bucket == 3,
            F.concat(F.lit(" "), F.col("event_id").cast("string"), F.lit(" ")),
        )
        .otherwise(F.lit("99999999999999999999"))
    )
    parsed = e.select(bucket.alias("bucket"), s.try_cast("long").alias("v"))
    return parsed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("v").alias("n_parsed"),
        F.sum("v").cast("long").alias("sum_parsed"),
    )
