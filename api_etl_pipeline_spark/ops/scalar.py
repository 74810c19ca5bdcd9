"""Scalar function surface (SURVEY.md §2.8, X-rows).

Every X-row from the reference inventory re-expressed as a JVM-side
column expression (no Python UDFs — whole-stage codegen keeps these in
the generated loop): hashing (X1), string surgery (X2–X5), printf
templates (X4, the reference's f-string URL builder sec_edgar.py:27-31),
JSON access (X6/X7), date/time (X9), array access (X12), comma-split
explode (X15), and CASE/coalesce dispatch (X13/X16/F12).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from api_etl_pipeline_spark.registry import query
from api_etl_pipeline_spark.tables import load_table


@query(
    "x01_hash_functions",
    oracle="""
    SELECT c_custkey,
           sha256(c_name) AS name_sha256,
           md5(c_name)    AS name_md5,
           substr(sha256(c_name), 1, 2) AS blob_bucket
    FROM customer
    """,
)
def x01_hash_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sha256/md5 content hashing (X1, downloads.py:23-24) + the blob store's
    2-char hash-prefix fan-out (X11, blob_store.py:10) as a derived column."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.sha2(F.col("c_name").cast("binary"), 256).alias("name_sha256"),
        F.md5(F.col("c_name").cast("binary")).alias("name_md5"),
        F.substring(F.sha2(F.col("c_name").cast("binary"), 256), 1, 2).alias("blob_bucket"),
    )


@query(
    "x02_string_funcs",
    oracle="""
    SELECT p_partkey,
           lower(p_name)                       AS name_lower,
           upper(p_brand)                      AS brand_upper,
           substr(p_name, 1, 10)               AS name_prefix,
           lpad(p_partkey::VARCHAR, 10, '0')   AS key_padded,
           replace(p_type, ' ', '-')           AS type_dashed,
           regexp_replace(p_name, '[aeiou]', '_', 'g') AS name_devoweled,
           length(p_name)::BIGINT              AS name_len,
           concat(p_brand, '#', p_type)        AS brand_type
    FROM part
    """,
)
def x02_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String surgery: X2 (dash strip → generalized replace/regexp_replace),
    X3 (zero-pad via lpad, sec_edgar.py:29), X4 (concat), X5 (lower)."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lower("p_name").alias("name_lower"),
        F.upper("p_brand").alias("brand_upper"),
        F.substring("p_name", 1, 10).alias("name_prefix"),
        F.lpad(F.col("p_partkey").cast("string"), 10, "0").alias("key_padded"),
        F.regexp_replace("p_type", " ", "-").alias("type_dashed"),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("name_devoweled"),
        F.length("p_name").cast("bigint").alias("name_len"),
        F.concat(F.col("p_brand"), F.lit("#"), F.col("p_type")).alias("brand_type"),
    )


@query(
    "x03_string_classify",
    oracle="""
    SELECT kind, COUNT(*)::BIGINT AS n
    FROM (
        SELECT CASE
                 WHEN lower(p_type) LIKE '%brass%'  THEN 'brass'
                 WHEN lower(p_type) LIKE 'promo%'   THEN 'promo'
                 WHEN lower(p_type) LIKE '%polished' THEN 'polished-suffix'
                 ELSE 'other'
               END AS kind
        FROM part
    )
    GROUP BY kind
    """,
)
def x03_string_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """contains/startswith/endswith dispatch — the PDF-URL classifier shape
    (F8, http_client.py:78-80) over part types."""
    p = load_table(spark, sf_dir, "part")
    lt = F.lower(F.col("p_type"))
    kind = (
        F.when(lt.contains("brass"), "brass")
        .when(lt.startswith("promo"), "promo")
        .when(lt.endswith("polished"), "polished-suffix")
        .otherwise("other")
    )
    return p.select(kind.alias("kind")).groupBy("kind").agg(F.count("*").alias("n"))


@query(
    "x04_url_template",
    oracle="""
    SELECT s_suppkey,
           printf('https://api.example.gov/suppliers/%d/detail/%s',
                  s_suppkey, replace(lower(s_name), ' ', '')) AS detail_url
    FROM supplier
    """,
)
def x04_url_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """printf-style URL templating — the reference's derived artifact URL
    (F4/X4, sec_edgar.py:27-31: int-cast key + stripped name + template)."""
    s = load_table(spark, sf_dir, "supplier")
    return s.select(
        "s_suppkey",
        F.format_string(
            "https://api.example.gov/suppliers/%d/detail/%s",
            F.col("s_suppkey"),
            F.regexp_replace(F.lower("s_name"), " ", ""),
        ).alias("detail_url"),
    )


@query(
    "x05_date_funcs",
    oracle="""
    SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month,
           year(o_orderdate)::BIGINT                 AS order_year,
           month(o_orderdate)::BIGINT                AS order_mon,
           COUNT(*)::BIGINT                          AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders
    GROUP BY 1, 2, 3
    """,
)
def x05_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp bucketing (X9: ISO stems/date_format analog) — month
    truncation + calendar field extraction."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            # date_trunc returns a zoned timestamp even for NTZ input; cast
            # back so collection is timezone-independent (session tz is
            # pinned UTC by ensure_engine_confs, making the cast exact)
            F.date_trunc("month", "o_orderdate").cast("timestamp_ntz").alias("order_month"),
            F.year("o_orderdate").cast("bigint").alias("order_year"),
            F.month("o_orderdate").cast("bigint").alias("order_mon"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("sum_price"),
        )
    )


@query(
    "x06_math_funcs",
    oracle="""
    SELECT p_partkey,
           ROUND(p_retailprice, 2)          AS price_r2,
           FLOOR(p_retailprice)::BIGINT     AS price_floor,
           CEIL(p_retailprice)::BIGINT      AS price_ceil,
           ABS(p_size - 25)::BIGINT         AS size_dev,
           ROUND(LN(p_retailprice), 6)      AS price_ln,
           ROUND(SQRT(p_retailprice), 6)    AS price_sqrt,
           ROUND(POW(p_size, 2), 1)         AS size_sq,
           (p_partkey % 7)::BIGINT          AS key_mod7
    FROM part
    """,
)
def x06_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math surface (X10-adjacent): round/floor/ceil/abs/ln/sqrt/pow/mod."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.round("p_retailprice", 2).alias("price_r2"),
        F.floor("p_retailprice").cast("bigint").alias("price_floor"),
        F.ceil("p_retailprice").cast("bigint").alias("price_ceil"),
        F.abs(F.col("p_size") - 25).cast("bigint").alias("size_dev"),
        F.round(F.log("p_retailprice"), 6).alias("price_ln"),
        F.round(F.sqrt("p_retailprice"), 6).alias("price_sqrt"),
        F.round(F.pow("p_size", F.lit(2)), 1).alias("size_sq"),
        (F.col("p_partkey") % 7).cast("bigint").alias("key_mod7"),
    )


@query(
    "x07_json_extract",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k')::BIGINT AS k_value
    FROM events
    """,
)
def x07_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path access over a stringified-JSON column (X7/F1: the
    reference's params_json/headers_json pattern, db.py:12,14)."""
    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k_value"),
    )


@query(
    "x08_split_explode",
    oracle="""
    SELECT token, COUNT(*)::BIGINT AS n
    FROM (
        SELECT unnest(string_split(p_name, ' ')) AS token FROM part
    )
    GROUP BY token
    """,
)
def x08_split_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Comma/space-split to rows (X15, the dossier's docketNumber fan-out):
    split + explode + grouped count."""
    p = load_table(spark, sf_dir, "part")
    return (
        p.select(F.explode(F.split("p_name", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )


@query(
    "x09_case_buckets",
    oracle="""
    SELECT bucket, COUNT(*)::BIGINT AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM (
        SELECT CASE
                 WHEN o_totalprice < 50000  THEN 'small'
                 WHEN o_totalprice < 150000 THEN 'medium'
                 WHEN o_totalprice < 300000 THEN 'large'
                 ELSE 'jumbo'
               END AS bucket
             , o_totalprice
        FROM orders
    )
    GROUP BY bucket
    """,
)
def x09_case_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN bucketing — the size-gate dispatch shape (F9/F13/F14)."""
    o = load_table(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 150000, "medium")
        .when(F.col("o_totalprice") < 300000, "large")
        .otherwise("jumbo")
    )
    return (
        o.select(bucket.alias("bucket"), "o_totalprice")
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("sum_price"),
        )
    )


@query(
    "x10_coalesce_nullif",
    oracle="""
    SELECT c_custkey,
           COALESCE(NULLIF(c_mktsegment, 'BUILDING'), '<masked>') AS segment_masked,
           COALESCE(NULLIF(ROUND(c_acctbal, 2), 0.0), -1.0)       AS acctbal_or_default
    FROM customer
    """,
)
def x10_coalesce_nullif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """coalesce/nullif — the multi-key alternate-path lookup shape
    (X13, nrc_adams_aps.py:94-108)."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("<masked>")).alias(
            "segment_masked"
        ),
        F.coalesce(
            F.nullif(F.round("c_acctbal", 2), F.lit(0.0)), F.lit(-1.0)
        ).alias("acctbal_or_default"),
    )


@query(
    "x11_casts",
    oracle="""
    SELECT o_orderkey,
           o_orderkey::VARCHAR                    AS key_str,
           FLOOR(o_totalprice)::BIGINT            AS price_int,
           (o_orderkey % 2 = 0)                   AS key_even,
           CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP) AS order_date,
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS date_str
    FROM orders
    """,
)
def x11_casts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-type casts (X3/X14: int-cast CIK, string coercions)."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.col("o_orderkey").cast("string").alias("key_str"),
        F.floor("o_totalprice").cast("bigint").alias("price_int"),
        (F.col("o_orderkey") % 2 == 0).alias("key_even"),
        # date-normalize then re-widen: DATE finals collect asymmetrically
        # (Spark datetime.date vs DuckDB datetime64) — ship timestamp_ntz
        F.col("o_orderdate").cast("date").cast("timestamp_ntz").alias("order_date"),
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("date_str"),
    )


@query(
    "x12_array_functions",
    oracle="""
    SELECT doc_id,
           array_to_string(list_sort(list_distinct((string_split(text, ' '))[1:6])), '|')
                                                                           AS first_tokens,
           len(list_distinct((string_split(text, ' '))[1:6]))::BIGINT      AS n_distinct_first,
           list_contains(string_split(text, ' '), 'the')                   AS has_the,
           list_position(string_split(text, ' '), 'the')::BIGINT           AS the_pos,
           array_to_string(list_sort(list_distinct((string_split(text, ' '))[1:3])), '|')
                                                                           AS key3
    FROM documents
    """,
)
def x12_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function suite (X12 extended): slice, distinct, sort,
    contains, position, join — the building blocks the shingle/dedup
    operators compose. list_position/array_position agree cross-engine:
    1-based, 0 for missing (exercised — ~20% of docs lack 'the').

    Array-typed columns are serialized (array_join) in the FINAL output:
    the driver's canonicalizer pandas-sorts every column, and Python
    lists are unhashable — a raw array column aborts the whole t2 loop
    (round-1 lesson: CORRECTNESS_r01 stopped at this query)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    first6 = F.array_distinct(F.slice(toks, 1, 6))
    return d.select(
        "doc_id",
        F.array_join(F.array_sort(first6), "|").alias("first_tokens"),
        F.size(first6).cast("bigint").alias("n_distinct_first"),
        F.array_contains(toks, "the").alias("has_the"),
        F.array_position(toks, "the").cast("bigint").alias("the_pos"),
        F.array_join(F.array_sort(F.array_distinct(F.slice(toks, 1, 3))), "|").alias("key3"),
    )


@query(
    "x13_pattern_matching",
    oracle="""
    SELECT p_partkey,
           (p_name LIKE '%green%')                   AS has_green,
           (p_name LIKE 'a%')                        AS starts_a,
           (lower(p_type) LIKE '%anodized%')         AS anodized,
           regexp_matches(p_name, '^[a-z]+ [a-z]+')  AS two_words,
           (p_brand LIKE 'Brand#_3')                 AS brand_x3
    FROM part
    """,
)
def x13_pattern_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern-matching surface: LIKE with %/_ wildcards and RLIKE regex
    (the host/URL classification family, X5/F8, generalized)."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.col("p_name").like("%green%").alias("has_green"),
        F.col("p_name").like("a%").alias("starts_a"),
        F.lower("p_type").like("%anodized%").alias("anodized"),
        F.col("p_name").rlike("^[a-z]+ [a-z]+").alias("two_words"),
        F.col("p_brand").like("Brand#_3").alias("brand_x3"),
    )


@query(
    "x14_extrema_aggregates",
    oracle="""
    SELECT o_orderpriority,
           max_by(o_orderkey, o_totalprice) AS biggest_order,
           min_by(o_orderkey, o_totalprice) AS smallest_order,
           bool_or(o_orderstatus = 'F')     AS any_finished,
           bool_and(o_totalprice > 0)       AS all_positive,
           count_if(o_orderstatus = 'O')::BIGINT AS n_open
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def x14_extrema_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extrema/conditional aggregates: max_by/min_by (argmax — the
    'latest run' W2 semantics as an aggregate), bool_or/bool_and,
    count_if. Deterministic here because o_totalprice per priority has a
    unique arg extremum in this data (ties would be engine-arbitrary)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.max_by("o_orderkey", "o_totalprice").alias("biggest_order"),
        F.min_by("o_orderkey", "o_totalprice").alias("smallest_order"),
        F.bool_or(F.col("o_orderstatus") == "F").alias("any_finished"),
        F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
        F.count_if(F.col("o_orderstatus") == "O").alias("n_open"),
    )


@query(
    "x15_list_aggregation",
    oracle="""
    SELECT l_orderkey,
           array_to_string(list(l_linenumber ORDER BY l_linenumber), '|') AS linenumbers,
           string_agg(l_linenumber::VARCHAR, ',' ORDER BY l_linenumber) AS linenumber_csv,
           COUNT(*)::BIGINT AS n_lines
    FROM lineitem
    GROUP BY l_orderkey
    """,
)
def x15_list_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """List/string aggregation (the SEC struct-of-arrays emission shape,
    inverse of ing11's unnest): collect_list is order-nondeterministic in
    Spark, so the engine always sorts the collected array — making the
    result partition-layout-invariant and matching DuckDB's ORDER BY
    list aggregation. Final output serializes the list (driver's
    canonicalizer cannot hash Python lists — see x12)."""
    li = load_table(spark, sf_dir, "lineitem")
    nums = F.sort_array(F.collect_list("l_linenumber"))
    return li.groupBy("l_orderkey").agg(
        F.array_join(F.transform(nums, lambda x: x.cast("string")), "|").alias(
            "linenumbers"
        ),
        F.array_join(F.transform(nums, lambda x: x.cast("string")), ",").alias(
            "linenumber_csv"
        ),
        F.count("*").alias("n_lines"),
    )


@query(
    "x16_regression_stats",
    oracle="""
    SELECT l_returnflag, n,
           (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
           (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n AS intercept,
           (n * sxy - sx * sy)
             / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) AS pearson_r
    FROM (
        SELECT l_returnflag,
               COUNT(*)::DOUBLE AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sxy,
               CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS syy
        FROM lineitem
        GROUP BY l_returnflag
    )
    """,
)
def x16_regression_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-regression aggregates (slope/intercept/Pearson r of
    extendedprice on quantity per returnflag) built from exact decimal
    moment sums — the determinism trick generalizes: Spark's native
    corr()/regr_slope() sum doubles in partition order (non-reproducible
    bit-for-bit across layouts and engines), but every moment
    (Σx, Σy, Σxy, Σx², Σy²) of ≤2-decimal inputs is decimal-exact, and
    the closed-form combination is a fixed double AST both engines
    evaluate identically. Same one-shuffle plan as the native versions."""
    li = load_table(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    moments = li.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(x.cast("decimal(18,2)")).cast("double").alias("sx"),
        F.sum(y.cast("decimal(18,2)")).cast("double").alias("sy"),
        F.sum((x * y).cast("decimal(18,4)")).cast("double").alias("sxy"),
        F.sum((x * x).cast("decimal(18,2)")).cast("double").alias("sxx"),
        F.sum((y * y).cast("decimal(18,4)")).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    # a flag group with one distinct x has no fit: try_divide gives NULL
    # there, as DuckDB's division does, where ANSI `/` would raise (n >= 1)
    slope = F.try_divide(n * sxy - sx * sy, n * sxx - sx * sx)
    return moments.select(
        "l_returnflag",
        "n",
        slope.alias("slope"),
        ((sy - slope * sx) / n).alias("intercept"),
        F.try_divide(
            n * sxy - sx * sy, F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
        ).alias("pearson_r"),
    )


@query(
    "x17_bitwise_functions",
    oracle="""
    SELECT o_orderkey,
           (o_orderkey & 255)::BIGINT            AS low_byte,
           (o_orderkey | 4096)::BIGINT           AS with_flag,
           xor(o_orderkey, 21845)::BIGINT        AS xored,
           (o_orderkey << 2)::BIGINT             AS shifted,
           bit_count(o_orderkey)::BIGINT         AS popcount
    FROM orders
    """,
)
def x17_bitwise_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar bitwise surface: AND/OR/XOR masks, shifts, popcount — the
    building blocks of SimHash/fingerprint operators exposed directly.
    (Dialect trap pinned here: DuckDB's ^ is POWER, its xor is xor();
    Spark's ^ is bitwise xor.) Pure integer ops — trivially hash-stable."""
    o = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        k.bitwiseAND(F.lit(255)).cast("bigint").alias("low_byte"),
        k.bitwiseOR(F.lit(4096)).cast("bigint").alias("with_flag"),
        k.bitwiseXOR(F.lit(21845)).cast("bigint").alias("xored"),
        F.shiftleft(k, 2).cast("bigint").alias("shifted"),
        F.bit_count(k).cast("bigint").alias("popcount"),
    )


@query(
    "x18_bitwise_aggregates",
    oracle="""
    SELECT o_orderpriority,
           bit_and(o_orderkey)::BIGINT AS and_keys,
           bit_or(o_orderkey)::BIGINT  AS or_keys,
           bit_xor(o_orderkey)::BIGINT AS xor_keys,
           COUNT(*)::BIGINT            AS n
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def x18_bitwise_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregates (bit_and/bit_or/bit_xor): commutative and
    associative, so map-side partial aggregation applies and results are
    partitioning-independent — the same order-freedom argument as the
    decimal money sums, for free on integers."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.bit_and("o_orderkey").cast("bigint").alias("and_keys"),
        F.bit_or("o_orderkey").cast("bigint").alias("or_keys"),
        F.bit_xor("o_orderkey").cast("bigint").alias("xor_keys"),
        F.count("*").alias("n"),
    )


@query(
    "x19_try_functions",
    oracle="""
    SELECT o_orderkey,
           o_totalprice / nullif((o_orderkey % 3)::DOUBLE, 0.0) AS price_over_mod,
           TRY_CAST(o_orderpriority AS INTEGER)                 AS prio_as_int,
           TRY_CAST(substr(o_orderpriority, 1, 1) AS INTEGER)::BIGINT AS prio_digit
    FROM orders
    """,
)
def x19_try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe ANSI surface: try_divide (NULL on /0 instead of the
    ANSI-mode exception) and try_cast (NULL on malformed input — here
    '1-URGENT' fails whole-string parse but its first digit casts).
    The quarantine philosophy (F1/F10: degrade to NULL, never fail the
    job) expressed at the expression level."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.try_divide(
            F.col("o_totalprice"), (F.col("o_orderkey") % 3).cast("double")
        ).alias("price_over_mod"),
        F.col("o_orderpriority").try_cast("int").alias("prio_as_int"),
        F.substring("o_orderpriority", 1, 1).try_cast("int").cast("bigint").alias(
            "prio_digit"
        ),
    )


@query(
    "x20_higher_order_functions",
    oracle="""
    SELECT doc_id,
           len(list_filter(string_split(text, ' '), t -> length(t) > 6))::BIGINT
               AS n_long_tokens,
           list_reduce(list_prepend(0, list_transform(string_split(text, ' '),
                                                      t -> length(t))),
                       (acc, x) -> acc + x)::BIGINT AS total_token_chars,
           len(list_filter(string_split(text, ' '), t -> t = 'the')) > 0
               AS has_the,
           array_to_string(list_transform((string_split(text, ' '))[1:3],
                                          t -> upper(t)), '|') AS first3_upper
    FROM documents
    """,
)
def x20_higher_order_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions as a first-class surface: filter,
    transform, exists, and a sequential aggregate fold — the lambda
    toolkit the sketch/dedup operators compose internally (sim01's dot
    product IS this fold), exposed and differentially verified. The
    tokens array is materialized once in a prior select (round-1 rule:
    lambdas re-evaluate inlined split() per element)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("toks"))
    return toks.select(
        "doc_id",
        F.size(F.filter("toks", lambda t: F.length(t) > 6))
        .cast("bigint")
        .alias("n_long_tokens"),
        F.aggregate(
            F.transform("toks", lambda t: F.length(t).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("total_token_chars"),
        F.exists("toks", lambda t: t == "the").alias("has_the"),
        F.array_join(
            F.transform(F.slice("toks", 1, 3), lambda t: F.upper(t)), "|"
        ).alias("first3_upper"),
    )


@query(
    "x21_width_bucket_histogram",
    oracle="""
    SELECT CASE WHEN o_totalprice < 0 THEN 0
                WHEN o_totalprice >= 600000 THEN 25
                ELSE 1 + FLOOR(o_totalprice / (600000.0 / 24))
           END::BIGINT AS bucket,
           COUNT(*)::BIGINT AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY 1
    """,
)
def x21_width_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram via Spark's width_bucket, differentially
    checked against DuckDB's floor-arithmetic emulation (DuckDB has no
    width_bucket): with 2-decimal prices and an exact bucket width, the
    two formulations agree on every boundary. At scale this is the
    single-pass histogram primitive (one hash agg, map-side combined)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.width_bucket("o_totalprice", F.lit(0), F.lit(600000), F.lit(24))
            .cast("bigint")
            .alias("bucket")
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total"),
        )
    )


@query(
    "x22_negative_div_mod",
    oracle="""
    SELECT o_orderkey,
           ((0 - o_orderkey) % 7)::BIGINT                 AS neg_mod,
           ((((0 - o_orderkey) % 7) + 7) % 7)::BIGINT     AS pos_mod,
           CAST((0 - o_orderkey) // 7 AS BIGINT)          AS neg_intdiv,
           CAST(FLOOR((0 - o_orderkey) / 7.0) AS BIGINT)  AS floor_div
    FROM orders
    """,
)
def x22_negative_div_mod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-operand arithmetic semantics, pinned cross-engine: both
    engines TRUNCATE % toward zero (so -k % 7 ≤ 0); the positive-residue
    form is pmod on Spark and the ((x%m)+m)%m identity on DuckDB; DuckDB
    // truncates toward zero while Spark's div does too — but
    FLOOR(x/7.0) differs from both on negatives. Exactly the traps that
    silently skew hash-bucketing of signed keys."""
    o = load_table(spark, sf_dir, "orders")
    neg = F.lit(0) - F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        (neg % 7).cast("bigint").alias("neg_mod"),
        F.pmod(neg, F.lit(7)).cast("bigint").alias("pos_mod"),
        F.expr("(0 - o_orderkey) div 7").cast("bigint").alias("neg_intdiv"),
        F.floor(neg / 7.0).cast("bigint").alias("floor_div"),
    )


def _zorder_sql(a: str, b: str, bits: int = 8) -> str:
    """DuckDB bit-interleave expression: z = Σ ((a>>i)&1)<<2i | ((b>>i)&1)<<(2i+1)."""
    terms = []
    for i in range(bits):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


def zorder_key(a, b, bits: int = 8):
    """Spark twin of _zorder_sql: interleave the low `bits` bits of two
    bucketized dimension columns into one Morton (Z-curve) clustering key.
    Sorting/range-partitioning by this key keeps BOTH dimensions locally
    clustered, so parquet min/max pruning works on either predicate — the
    layout trick behind Delta/Iceberg Z-ORDER, expressed as pure integer
    arithmetic (whole-stage codegen, no UDF)."""
    z = F.lit(0)
    for i in range(bits):
        z = z + F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i)
        z = z + F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
    return z


@query(
    "x23_zorder_interleave",
    oracle=f"""
    WITH bucketed AS (
        SELECT o_orderkey,
               (o_custkey % 256)::BIGINT AS cust_bucket,
               (date_diff('day', DATE '1992-01-01', o_orderdate) % 256)::BIGINT AS day_bucket
        FROM orders
    )
    SELECT o_orderkey, cust_bucket, day_bucket,
           ({_zorder_sql('cust_bucket', 'day_bucket')})::BIGINT AS z_value
    FROM bucketed
    """,
)
def x23_zorder_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (customer, order-date)
    buckets — see `zorder_key`. The key itself is what a table-layout
    job range-partitions and sorts by before writing parquet;
    `tests/test_zorder.py` proves the resulting layout shrinks BOTH
    dimensions' per-file min/max spans (the pruning-effectiveness
    invariant), where a single-column sort only shrinks one."""
    o = load_table(spark, sf_dir, "orders")
    cust_b = (F.col("o_custkey") % 256).cast("bigint")
    day_b = (F.datediff(F.col("o_orderdate"), F.lit("1992-01-01")) % 256).cast("bigint")
    b = o.select(
        "o_orderkey", cust_b.alias("cust_bucket"), day_b.alias("day_bucket")
    )
    return b.select(
        "o_orderkey",
        "cust_bucket",
        "day_bucket",
        zorder_key(F.col("cust_bucket"), F.col("day_bucket")).cast("bigint").alias("z_value"),
    )


@query(
    "x24_temporal_matrix",
    oracle="""
    SELECT CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP) AS d,
           CAST(last_day(o_orderdate) AS TIMESTAMP) AS month_end,
           CAST(CAST(o_orderdate + INTERVAL 1 MONTH AS DATE) AS TIMESTAMP)
               AS next_month,
           quarter(o_orderdate)::BIGINT AS qtr,
           dayofyear(o_orderdate)::BIGINT AS doy,
           dayofweek(o_orderdate)::BIGINT AS dow,
           datediff('day', DATE '1995-01-01', o_orderdate)::BIGINT
               AS days_since_anchor,
           COUNT(*)::BIGINT AS n_orders
    FROM orders
    GROUP BY 1, 2, 3, 4, 5, 6, 7
    """,
)
def x24_temporal_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-function matrix (X9 family breadth): month-end, clamped
    month addition, quarter, day-of-year, day-of-week, anchored day
    diff — one row per distinct order date. Dialect traps normalized
    explicitly: Spark's dayofweek is 1-based Sunday vs DuckDB's 0-based
    (shift by -1); month addition is add_months vs date + INTERVAL (both
    clamp to month end); every derived date is cast to DATE because the
    engines disagree on date-arithmetic result types."""
    o = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return (
        o.groupBy(
            # derived dates re-widened to timestamp_ntz for the output: DATE
            # finals collect asymmetrically under pandas canonicalization
            d.cast("date").cast("timestamp_ntz").alias("d"),
            F.last_day(d).cast("timestamp_ntz").alias("month_end"),
            F.add_months(d, 1).cast("date").cast("timestamp_ntz").alias("next_month"),
            F.quarter(d).cast("bigint").alias("qtr"),
            F.dayofyear(d).cast("bigint").alias("doy"),
            (F.dayofweek(d) - 1).cast("bigint").alias("dow"),
            F.datediff(d, F.lit("1995-01-01").cast("date")).cast("bigint").alias(
                "days_since_anchor"
            ),
        )
        .agg(F.count("*").alias("n_orders"))
    )
