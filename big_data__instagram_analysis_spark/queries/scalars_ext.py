"""Scalar-surface extensions (§2.12 E135-E138): AES column encryption,
embedded-CSV parsing, outer generators, and histogram binning.

Each is the Spark-native answer to a request the base scalar families (F1-F9)
don't cover: encrypt-at-rest PII columns, ingest CSV payloads embedded in
another table, preserve empty groups through explosion, and bin continuous
measures — exact (width_bucket) and sketched (histogram_numeric).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load, local_frame
from ..numeric import cents_sum
from ..registry import query

# 16-byte demo key (AES-128). Real deployments pull this from a KMS and
# rotate it; the point here is the engine surface, not key management.
_AES_KEY = "0123456789abcdef"


@query(
    "aes_pii_roundtrip",
    category="F1,L8,E135",
    oracle="""
SELECT c_custkey, c_name AS recovered_name,
       TRUE AS roundtrip_ok, TRUE AS block_aligned
FROM customer
WHERE c_custkey <= 200
ORDER BY c_custkey
""",
)
def aes_pii_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``aes_encrypt``/``aes_decrypt``: PII-at-rest column encryption inside
    the engine (no UDF, no driver round trip). ECB mode is used HERE because
    determinism makes the round trip oracle-checkable; the docstring caveat
    is the real guidance — GCM (the default) for production, since ECB
    leaks equality of plaintexts.

    The emit certifies the full loop: decrypt(encrypt(name)) recovers the
    exact name (hash-matched against the raw column by the oracle), and
    every ciphertext is AES-block-aligned (len % 16 == 0) — structure only
    the real cipher produces. At 100 TB this runs as a codegen'd JVM
    expression per row: no shuffle, no Python.
    """
    c = load(spark, sf_dir, "customer").where(F.col("c_custkey") <= 200)
    key = F.lit(_AES_KEY)
    enc = F.expr(
        f"aes_encrypt(c_name, '{_AES_KEY}', 'ECB', 'PKCS')"
    )
    out = c.select(
        "c_custkey",
        "c_name",
        enc.alias("ct"),
    ).select(
        "c_custkey",
        F.expr(f"CAST(aes_decrypt(ct, '{_AES_KEY}', 'ECB', 'PKCS') AS STRING)")
        .alias("recovered_name"),
        "c_name",
        (F.length("ct") % 16 == 0).alias("block_aligned"),
    )
    return (
        out.select(
            "c_custkey",
            "recovered_name",
            (F.col("recovered_name") == F.col("c_name")).alias("roundtrip_ok"),
            "block_aligned",
        )
        .orderBy("c_custkey")
    )


@query(
    "embedded_csv_parse",
    category="F1,F6,E136",
    oracle="""
SELECT o_orderkey, o_orderstatus AS status, round(o_totalprice, 2) AS price
FROM orders
WHERE o_orderkey <= 1000
ORDER BY o_orderkey
""",
)
def embedded_csv_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``to_csv``/``from_csv``: CSV records embedded in a column (message
    queues and log lines carry these constantly). A struct is serialized to
    a one-line CSV string, then parsed back with an explicit schema —
    typed extraction without exploding to a file round trip.

    Proving serialize∘parse == identity through the engine's own CSV
    dialect is the property that matters: quoting, decimal formatting, and
    null encoding all live inside it. Runs as JVM expressions — the 100 TB
    path for "parse the CSV payload column" never leaves codegen.
    """
    o = load(spark, sf_dir, "orders").where(F.col("o_orderkey") <= 1000)
    csv_line = F.to_csv(
        F.struct(
            F.col("o_orderkey"), F.col("o_orderstatus"), F.col("o_totalprice")
        )
    )
    parsed = F.from_csv(
        csv_line, "k bigint, status string, price double"
    )
    return (
        o.select("o_orderkey", parsed.alias("p"))
        .select(
            "o_orderkey",
            F.col("p.status").alias("status"),
            F.round("p.price", 2).alias("price"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "generator_outer_family",
    category="F7,E137",
    oracle="""
WITH arrs AS (
  SELECT c_custkey,
         list_sort(list_filter(list(o_orderpriority), p -> p = '1-URGENT'))
           AS arr
  FROM customer JOIN orders ON o_custkey = c_custkey
  WHERE c_custkey <= 300
  GROUP BY c_custkey
)
SELECT c_custkey, CAST(NULL AS BIGINT) AS pos, CAST(NULL AS VARCHAR) AS pri
FROM arrs WHERE len(arr) = 0
UNION ALL
SELECT c_custkey,
       CAST(generate_subscripts(arr, 1) - 1 AS BIGINT) AS pos,
       unnest(arr) AS pri
FROM arrs
WHERE len(arr) > 0
ORDER BY c_custkey, pos
""",
)
def generator_outer_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``posexplode_outer``: the OUTER generator family. A plain explode
    DROPS rows whose array is empty — silently losing every customer with
    no urgent orders from the output. The _outer variants emit one
    (NULL pos, NULL value) row instead, preserving the left cardinality —
    the LEFT JOIN of the generator world.

    The per-customer array is built with sort_array(collect_list) + filter
    (possibly to empty), so both branches of the semantics are exercised in
    one result. The oracle spells the same contract as an explicit
    empty-branch UNION over unnest.
    """
    c = load(spark, sf_dir, "customer").where(F.col("c_custkey") <= 300)
    o = load(spark, sf_dir, "orders")
    arrs = (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_custkey")
        .agg(
            F.sort_array(
                F.filter(
                    F.collect_list("o_orderpriority"),
                    lambda p: p == "1-URGENT",
                )
            ).alias("arr")
        )
    )
    return (
        arrs.select(
            "c_custkey", F.posexplode_outer("arr").alias("pos", "pri")
        )
        .select("c_custkey", F.col("pos").cast("bigint").alias("pos"), "pri")
        .orderBy("c_custkey", "pos")
    )


@query(
    "width_bucket_histogram",
    category="F4,A1,E138",
    oracle="""
SELECT CAST(CASE WHEN o_totalprice < 0 THEN 0
            WHEN o_totalprice >= 500000 THEN 11
            ELSE floor(o_totalprice / 50000) + 1 END AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0 AS total
FROM orders
GROUP BY 1
ORDER BY bucket
""",
)
def width_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``width_bucket``: exact equi-width histogram binning — bucket i of
    [0, 500000) in 10 steps, with the under/overflow buckets 0 and 11 the
    function defines. The oracle recomputes the bucket arithmetic from its
    definition (floor-divide on the same IEEE doubles), so the hash match
    pins Spark's function to first principles.

    This is the exact counterpart to the sketched ``histogram_numeric``
    (histogram_numeric_certified): same shape, no approximation, one
    map-side-combined aggregation — at 100 TB an equi-width histogram is a
    single shuffle of at most n_buckets rows per task.
    """
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.expr("width_bucket(o_totalprice, 0D, 500000D, 10)").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            cents_sum(F.col("o_totalprice")).alias("total"),
        )
        .orderBy("bucket")
    )


@query(
    "histogram_numeric_certified",
    category="A4,E139",
    oracle="""
SELECT CAST(8 AS INT) AS n_bins,
       CAST(count(*) AS BIGINT) AS total_weight,
       TRUE AS centers_in_range,
       TRUE AS centers_ascending
FROM orders
""",
)
def histogram_numeric_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``histogram_numeric``: Spark's streaming equi-depth-ish histogram
    sketch (Ben-Haim/Tom-Tov decision-tree histogram — centroid merge, one
    pass, mergeable across partitions). Bin centers are
    implementation-defined, so the certified-property pattern applies: the
    emit pins the sketch's CONTRACT — exactly 8 bins, bin weights summing
    to the exact row count (nothing dropped or double-counted), centers
    inside [min, max], and strictly ascending.

    At 100 TB this is the shape for "distribution of X" dashboards: fixed
    sketch size per partition, one merge, no sort, no exact percentile
    shuffle.
    """
    o = load(spark, sf_dir, "orders")
    row = o.select(
        F.expr("histogram_numeric(o_totalprice, 8)").alias("h"),
        F.count(F.lit(1)).alias("n_exact"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
    )
    return row.select(
        F.size("h").alias("n_bins"),
        F.aggregate(
            "h", F.lit(0.0), lambda acc, b: acc + b["y"]
        )
        .cast("bigint")
        .alias("total_weight"),
        F.forall(
            "h", lambda b: (b["x"] >= F.col("lo")) & (b["x"] <= F.col("hi"))
        ).alias("centers_in_range"),
        F.expr(
            "forall(zip_with(slice(h, 1, size(h) - 1), slice(h, 2, size(h) - 1),"
            " (a, b) -> a.x < b.x), v -> v)"
        ).alias("centers_ascending"),
    )


# --- E194: URL parsing + checksum/encoding function family --------------------


@query(
    "url_checksum_funcs",
    category="F1,E194",
    oracle="""
WITH u AS (
  SELECT c_custkey,
         'https://shop.example.com/u/' || CAST(c_custkey AS VARCHAR)
           || '?seg=' || lower(c_mktsegment) AS url
  FROM customer WHERE c_custkey < 200
), parsed AS (
  SELECT c_custkey, url,
         regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host,
         regexp_extract(url, '^[a-z]+://[^/]+(/[^?]*)', 1) AS path,
         regexp_extract(url, 'seg=([a-z]+)', 1) AS seg
  FROM u
), luhn AS (
  -- Luhn checksum over the key digits: from the RIGHT, double every 2nd
  -- digit, subtract 9 when > 9, sum, valid iff % 10 = 0. Pure int math.
  SELECT c_custkey,
         list_sum(list_transform(
           range(1, len(CAST(c_custkey AS VARCHAR)) + 1),
           i -> CASE WHEN i % 2 = 1
                THEN CAST(array_extract(reverse(CAST(c_custkey AS VARCHAR)),
                                        i) AS BIGINT)
                ELSE CASE
                  WHEN CAST(array_extract(reverse(CAST(c_custkey AS VARCHAR)),
                                          i) AS BIGINT) * 2 > 9
                  THEN CAST(array_extract(reverse(CAST(c_custkey AS VARCHAR)),
                                          i) AS BIGINT) * 2 - 9
                  ELSE CAST(array_extract(reverse(CAST(c_custkey AS VARCHAR)),
                                          i) AS BIGINT) * 2
                END END)) AS luhn_sum
  FROM u
)
SELECT p.c_custkey, p.host, p.path, p.seg,
       to_base64(CAST(p.seg AS BLOB)) AS seg_b64,
       CAST(decode(from_base64(to_base64(CAST(p.seg AS BLOB)))) = p.seg
            AS BOOLEAN) AS b64_roundtrip,
       CAST(bit_count(CAST(p.c_custkey AS BIGINT)) AS INTEGER) AS key_bits,
       CAST(l.luhn_sum % 10 = 0 AS BOOLEAN) AS luhn_valid
FROM parsed p JOIN luhn l ON l.c_custkey = p.c_custkey
ORDER BY p.c_custkey
""",
)
def url_checksum_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing + encoding/checksum scalar family: parse_url
    (HOST/PATH/QUERY param — JVM-side, where DuckDB needs three regexes),
    base64 round trip, bit_count popcount, and a Luhn checksum written as
    a higher-order fold over the digit array — card-number-style validity
    in pure integer expressions, no UDF.

    Scale: all row-local whole-stage-codegen expressions — zero shuffle
    beyond the final sort; the point is surface parity (a user migrating
    URL/checksum ETL finds every piece) and that even the 'procedural'
    Luhn loop stays a vectorized HOF, not a Python fallback.
    """
    c = load(spark, sf_dir, "customer").where(F.col("c_custkey") < 200)
    u = c.select(
        "c_custkey",
        F.concat(
            F.lit("https://shop.example.com/u/"),
            F.col("c_custkey").cast("string"),
            F.lit("?seg="),
            F.lower("c_mktsegment"),
        ).alias("url"),
    )
    digits_rev = F.split(F.reverse(F.col("c_custkey").cast("string")), "")
    luhn_sum = F.aggregate(
        F.filter(
            F.transform(
                digits_rev,
                lambda d, i: F.when(
                    i % 2 == 0, d.cast("bigint")
                ).otherwise(
                    F.when(d.cast("bigint") * 2 > 9, d.cast("bigint") * 2 - 9)
                    .otherwise(d.cast("bigint") * 2)
                ),
            ),
            lambda x: x.isNotNull(),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    seg = F.expr("parse_url(url, 'QUERY', 'seg')")
    return (
        u.select(
            "c_custkey",
            F.expr("parse_url(url, 'HOST')").alias("host"),
            F.expr("parse_url(url, 'PATH')").alias("path"),
            seg.alias("seg"),
            F.base64(seg.cast("binary")).alias("seg_b64"),
            (
                F.unbase64(F.base64(seg.cast("binary"))).cast("string") == seg
            ).alias("b64_roundtrip"),
            F.bit_count(F.col("c_custkey").cast("bigint"))
            .cast("int")
            .alias("key_bits"),
            (luhn_sum % 10 == 0).alias("luhn_valid"),
        )
        .orderBy("c_custkey")
    )


# --- E198: exact DECIMAL money arithmetic ------------------------------------


@query(
    "decimal_exact_money",
    category="F6,E198",
    oracle="""
WITH d AS (
  SELECT o_orderstatus, CAST(o_totalprice AS DECIMAL(14,2)) AS p
  FROM orders
)
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(p) AS VARCHAR) AS total_exact,
       CAST(min(p) AS VARCHAR) AS min_exact,
       CAST(max(p) AS VARCHAR) AS max_exact,
       CAST(CAST(sum(p) * 100 AS BIGINT) AS BIGINT) AS total_cents
FROM d
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def decimal_exact_money(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECIMAL-typed money arithmetic: prices cast to DECIMAL(14,2), summed
    and min/maxed in exact fixed-point — the type system's answer to the
    float-sum order-dependence this suite otherwise handles with the
    integer-cents convention. Totals emit as strings (decimal→string is
    canonical on both engines) plus an exact cents BIGINT.

    Scale: decimal aggregation is still a two-phase hash agg with map-side
    partials — Spark widens the accumulator (sum of DECIMAL(14,2) →
    DECIMAL(24,2)) so 10^10 rows cannot overflow; the cost vs double is
    ~2× per add (128-bit), the payoff is EXACT money at any row count and
    any partitioning — the same answer DuckDB's decimal engine produces,
    which is precisely what the hash proves.
    """
    o = load(spark, sf_dir, "orders")
    p = F.col("o_totalprice").cast("decimal(14,2)")
    return (
        o.select("o_orderstatus", p.alias("p"))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("p").alias("s"),
            F.min("p").alias("mn"),
            F.max("p").alias("mx"),
        )
        .select(
            "o_orderstatus",
            "n",
            F.col("s").cast("string").alias("total_exact"),
            F.col("mn").cast("string").alias("min_exact"),
            F.col("mx").cast("string").alias("max_exact"),
            (F.col("s") * 100).cast("bigint").alias("total_cents"),
        )
        .orderBy("o_orderstatus")
    )


# --- E199: timezone conversion family ----------------------------------------


@query(
    "timezone_conversion_family",
    category="F3,E199",
    oracle="""
SELECT event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS utc,
       strftime(timezone('America/New_York', ts AT TIME ZONE 'UTC'),
                '%Y-%m-%d %H:%M:%S') AS ny,
       strftime(timezone('Asia/Tokyo', ts AT TIME ZONE 'UTC'),
                '%Y-%m-%d %H:%M:%S') AS tokyo,
       strftime(timezone('Europe/London', ts AT TIME ZONE 'UTC'),
                '%Y-%m-%d %H:%M:%S') AS london,
       CAST(hour(timezone('America/New_York', ts AT TIME ZONE 'UTC'))
            AS INTEGER) AS ny_hour
FROM events
WHERE user_id < 5
ORDER BY event_id
""",
)
def timezone_conversion_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UTC → zone-local rendering across three IANA zones (one DST-bearing
    western, one fixed-offset eastern, one DST-bearing at UTC±0/1) — the
    dashboard-localization surface. Spark's from_utc_timestamp twins
    DuckDB's timezone(tz, ts AT TIME ZONE 'UTC'); both resolve offsets
    from the IANA tzdb, so January 2024 dates are rule-stable. A session
    set to a hostile non-UTC timezone must not change the result —
    from_utc_timestamp is session-tz-independent by definition, which this
    hash check enforces (the driver probes with America/New_York).

    Scale: pure row-local expressions in whole-stage codegen; the tz
    lookup is a cached JVM ZoneRules hit, not a per-row parse.
    """
    e = load(spark, sf_dir, "events").where(F.col("user_id") < 5)

    def local(zone: str):
        return F.from_utc_timestamp(F.col("ts"), zone)

    return e.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("utc"),
        F.date_format(local("America/New_York"), "yyyy-MM-dd HH:mm:ss").alias(
            "ny"
        ),
        F.date_format(local("Asia/Tokyo"), "yyyy-MM-dd HH:mm:ss").alias(
            "tokyo"
        ),
        F.date_format(local("Europe/London"), "yyyy-MM-dd HH:mm:ss").alias(
            "london"
        ),
        F.hour(local("America/New_York")).cast("int").alias("ny_hour"),
    ).orderBy("event_id")


# --- E210: regex accessor family + built-in PII mask --------------------------


@query(
    "regex_accessor_masking",
    category="F2,E210,L8",
    oracle="""
WITH s AS (
  SELECT doc_id, source || '-' || CAST(doc_id AS VARCHAR) || '-' || lang AS code
  FROM documents WHERE doc_id < 200
)
SELECT doc_id, code,
       CAST(len(regexp_extract_all(code, '[0-9]+')) AS INTEGER) AS n_digit_runs,
       CAST(strpos(code, regexp_extract(code, '[0-9]+')) AS INTEGER)
         AS first_digit_pos,
       regexp_extract(code, '[0-9]+') AS first_digit_run,
       split_part(code, '-', 2) AS middle_part,
       regexp_replace(regexp_replace(regexp_replace(code,
         '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g') AS masked
FROM s
ORDER BY doc_id
""",
)
def regex_accessor_masking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark-3.4+ regex accessor family over a synthesized code column:
    regexp_count (occurrences), regexp_instr (1-based first-match
    position), regexp_substr (first match), split_part, and the built-in
    mask() PII function (upper→X, lower→x, digit→n, punctuation kept) —
    DuckDB spells the first as len(extract_all), the position as
    strpos-of-first-match (valid here: any earlier occurrence of the
    matched digit run would itself start an earlier match — contradiction),
    and the mask as three class replaces, making every accessor
    cross-checkable.

    Scale: all row-local codegen; mask() is the engine-native PII
    primitive that replaces the regex-chain UDFs of the L8 redaction
    family for the class-masking case.
    """
    d = load(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    code = F.concat_ws(
        "-", F.col("source"), F.col("doc_id").cast("string"), F.col("lang")
    )
    return (
        d.select("doc_id", code.alias("code"))
        .select(
            "doc_id",
            "code",
            F.expr("regexp_count(code, '[0-9]+')").cast("int").alias(
                "n_digit_runs"
            ),
            F.expr("regexp_instr(code, '[0-9]+')").cast("int").alias(
                "first_digit_pos"
            ),
            F.expr("regexp_substr(code, '[0-9]+')").alias("first_digit_run"),
            F.expr("split_part(code, '-', 2)").alias("middle_part"),
            F.expr("mask(code)").alias("masked"),
        )
        .orderBy("doc_id")
    )


# --- E211: array-edit function family ----------------------------------------


@query(
    "array_edit_functions",
    category="F7,E211",
    oracle="""
WITH base AS (
  SELECT p_partkey,
         [CAST(p_size AS BIGINT), CAST(p_partkey % 7 AS BIGINT)] AS arr
  FROM part WHERE p_partkey < 100
)
SELECT p_partkey,
       array_to_string(list_prepend(CAST(-1 AS BIGINT), arr), ',')
         AS prepended,
       array_to_string(list_append(arr, CAST(99 AS BIGINT)), ',')
         AS appended,
       array_to_string([arr[1], CAST(0 AS BIGINT), arr[2]], ',')
         AS inserted_mid,
       array_to_string(
         list_filter(list_append(arr, CAST(NULL AS BIGINT)),
                     x -> x IS NOT NULL), ',') AS compacted
FROM base
ORDER BY p_partkey
""",
)
def array_edit_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark-3.4/3.5 array-EDIT family: array_prepend, array_append,
    array_insert (middle position), array_compact (NULL removal) — the
    mutation surface feature pipelines use to build fixed-shape vectors
    without exploding. DuckDB spells them list_prepend/list_append/
    explicit reconstruction/list_filter; arrays emit comma-joined so the
    hasher sees scalars.

    Scale: pure row-local codegen over in-row arrays — no Python, no
    shuffle; the arrays never leave their executor.
    """
    p = load(spark, sf_dir, "part").where(F.col("p_partkey") < 100)
    arr = F.array(
        F.col("p_size").cast("bigint"), (F.col("p_partkey") % 7).cast("bigint")
    )
    join_ = lambda c: F.array_join(c.cast("array<string>"), ",")  # noqa: E731
    return (
        p.select("p_partkey", arr.alias("arr"))
        .select(
            "p_partkey",
            join_(F.array_prepend("arr", F.lit(-1).cast("bigint"))).alias(
                "prepended"
            ),
            join_(F.array_append("arr", F.lit(99).cast("bigint"))).alias(
                "appended"
            ),
            join_(
                F.array_insert("arr", 2, F.lit(0).cast("bigint"))
            ).alias("inserted_mid"),
            join_(
                F.array_compact(
                    F.array_append("arr", F.lit(None).cast("bigint"))
                )
            ).alias("compacted"),
        )
        .orderBy("p_partkey")
    )


# --- E212: unicode string semantics ------------------------------------------


@query(
    "unicode_string_semantics",
    category="F1,E212",
    oracle="""
SELECT s,
       CAST(length(s) AS INTEGER) AS n_chars,
       CAST(octet_length(encode(s)) AS INTEGER) AS n_bytes,
       upper(s) AS uppered,
       reverse(s) AS reversed,
       CAST(ascii(s) AS INTEGER) AS first_codepoint
FROM (VALUES ('ascii only'), ('héllo wörld'), ('漢字テスト'),
             ('mixed 漢 text'), ('émoji-frei')) AS t(s)
ORDER BY s
""",
)
def unicode_string_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode semantics pinned cross-engine on inline multibyte strings:
    length counts CODEPOINTS (not bytes — héllo wörld is 11 chars /
    13 bytes, 漢字テスト 5 / 15), octet_length counts UTF-8 bytes, and
    upper/reverse/ascii operate on codepoints. The contract every text
    pipeline silently assumes and byte-oriented engines get wrong;
    hash-proving it here pins the engine pair's agreement.

    Scale: row-local; the point is semantics, not throughput.
    """
    rows = [
        ("ascii only",),
        ("héllo wörld",),
        ("漢字テスト",),
        ("mixed 漢 text",),
        ("émoji-frei",),
    ]
    df = local_frame(spark, rows, "s string")
    return df.select(
        "s",
        F.length("s").cast("int").alias("n_chars"),
        F.octet_length("s").cast("int").alias("n_bytes"),
        F.upper("s").alias("uppered"),
        F.reverse("s").alias("reversed"),
        F.ascii("s").cast("int").alias("first_codepoint"),
    ).orderBy("s")
