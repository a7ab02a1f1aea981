"""Downstream-consumer patterns (round 10): the operations users run
ON TOP of the engine's CDC/corpus surface — SCD2 dimension builds from
a change history, marketing-style last-touch attribution, the
l-diversity privacy audit that complements q261's k-anonymity,
retrieval diversification (MMR re-rank over a distributed shortlist),
and two corpus-health statistics (n-gram type/token diversity, char
bigram entropy) — q281-q286.

Reference scope note: the reference engine (src/) is a CDC forwarder
with no analytics; these rows extend SURVEY.md §2D with the
training-data-pipeline surface the build brief names as first-class.
q281 is the canonical consumer of a CDC stream (versioned dimension
history — what src/api/query.rs users build downstream).

Engine-stability conventions as everywhere: integer-ppm shares via
exact DIV (HUGEINT // on the DuckDB side where SUM is DECIMAL),
floor-scaled money/e2 units, microsecond-integer time arithmetic,
ln only on integer-valued inputs under the pinned bit-identity
contract (tests/test_llm.py::test_q276_ln_contract_bit_identity...),
md5 determinism for anything order-shaped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from speculare_pgcdc_spark.catalog import table
from speculare_pgcdc_spark.queries import register


@register(
    "q281_scd2_intervals",
    oracle="""
        SELECT o_custkey,
               CAST(ROW_NUMBER() OVER w AS BIGINT) AS version,
               o_orderdate AS valid_from,
               LEAD(o_orderdate) OVER w AS valid_to,
               o_orderstatus AS status,
               CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS price_e2
        FROM orders
        WHERE o_custkey IS NOT NULL
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey)
        ORDER BY o_custkey, version
    """,
    doc="Slowly-changing-dimension TYPE 2 build — the canonical "
    "downstream consumer of a CDC change history (the reference "
    "forwards changes, src/cdc/replication.rs:169-204; its users "
    "materialize them as versioned rows exactly like this): each "
    "key's change sequence becomes versioned intervals via "
    "row_number + lead(valid_from) over a KEY-partitioned window "
    "(valid_to NULL = current version). o_custkey is "
    "high-cardinality, so the window needs no band (the band rule "
    "targets LOW-cardinality partition keys); one shuffle on the "
    "key, no join, output streams. Ties totalized by o_orderkey; "
    "money floor-scales to e2 cents. A NULL o_custkey is no key: its "
    "rows are dropped, the rule of cdc/apply.latest_changes and "
    "cdc/scd2.scd2_apply. The INCREMENTAL twin — "
    "maintaining this state change-batch by change-batch through a "
    "real foreachBatch stream (cdc/scd2.scd2_apply: one key window "
    "over the open versions + batch rows, no join) — "
    "is pinned equal to this one-shot build in tests/"
    "test_streaming.py::test_scd2_incremental_stream_matches_batch"
    "_build, the q279-style stream==batch closure for the CDC "
    "consumer loop.",
)
def q281(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey"
    )
    return (
        table(spark, sf, "orders")
        .filter(F.col("o_custkey").isNotNull())
        .select(
            "o_custkey",
            F.row_number().over(w).cast("bigint").alias("version"),
            F.col("o_orderdate").alias("valid_from"),
            F.lead("o_orderdate").over(w).alias("valid_to"),
            F.col("o_orderstatus").alias("status"),
            F.floor(F.col("o_totalprice") * 100).cast("bigint")
            .alias("price_e2"),
        )
        .orderBy("o_custkey", "version")
    )


#: q282: attribution lookback (hours) and touch-type codes packed into
#: the integer max key (t_us * 8 + code <= ~1.4e16, BIGINT-safe)
ATTRIB_HOURS = 72
ATTRIB_CODES = {"view": 1, "click": 2, "signup": 3}


@register(
    "q282_last_touch_attribution",
    oracle=f"""
        WITH k AS (
            SELECT user_id, event_id, event_type, value,
                   epoch_us(ts) AS t,
                   CASE event_type
                        WHEN 'view' THEN epoch_us(ts) * 8 + 1
                        WHEN 'click' THEN epoch_us(ts) * 8 + 2
                        WHEN 'signup' THEN epoch_us(ts) * 8 + 3
                   END AS touch_key
            FROM events
        ),
        lt AS (
            SELECT *,
                   MAX(touch_key) OVER (
                       PARTITION BY user_id ORDER BY t, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING) AS last_key
            FROM k
        ),
        p AS (
            SELECT CASE
                     WHEN last_key IS NULL
                          OR t - last_key // 8
                             > {ATTRIB_HOURS * 3600 * 1_000_000}
                       THEN 'organic'
                     WHEN last_key % 8 = 1 THEN 'view'
                     WHEN last_key % 8 = 2 THEN 'click'
                     ELSE 'signup'
                   END AS channel,
                   value
            FROM lt WHERE event_type = 'purchase'
        )
        SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_purchases,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(28,6))), 2)
                    AS DOUBLE) AS revenue
        FROM p GROUP BY channel ORDER BY channel
    """,
    doc="Last-touch attribution: each purchase credits the user's "
    f"most recent view/click/signup within {ATTRIB_HOURS}h, else "
    "'organic' — the standard conversion-accounting consumer of an "
    "event stream. The 'last preceding touch' is ONE integer MAX "
    "over a user-partitioned prefix window: timestamp and touch "
    "code pack into t_us * 8 + code, so the max IS the latest touch "
    "(ties at identical t_us resolve to the higher code in both "
    "engines — order-independent, engine-stable, no struct-ordering "
    "semantics needed). user_id is high-cardinality (no band "
    "needed); one shuffle for the window + one tiny channel agg; "
    "revenue rides DECIMAL.",
)
def q282(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    t = F.unix_micros(F.col("ts"))
    code = F.create_map(
        *[
            x
            for kk, v in ATTRIB_CODES.items()
            for x in (F.lit(kk), F.lit(v))
        ]
    )[F.col("event_type")]
    ev = table(spark, sf, "events").select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        t.alias("t"),
        F.when(code.isNotNull(), t * 8 + code).alias("touch_key"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    lt = ev.withColumn("last_key", F.max("touch_key").over(w))
    rev = {v: kk for kk, v in ATTRIB_CODES.items()}
    channel = (
        F.when(
            F.col("last_key").isNull()
            | (
                F.col("t") - F.expr("last_key DIV 8")
                > ATTRIB_HOURS * 3600 * 1_000_000
            ),
            F.lit("organic"),
        )
        .when(F.col("last_key") % 8 == 1, F.lit(rev[1]))
        .when(F.col("last_key") % 8 == 2, F.lit(rev[2]))
        .otherwise(F.lit(rev[3]))
    )
    return (
        lt.filter(F.col("event_type") == "purchase")
        .select(channel.alias("channel"), "value")
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
            F.round(
                F.sum(F.col("value").cast("decimal(28,6)")), 2
            ).cast("double").alias("revenue"),
        )
        .orderBy("channel")
    )


#: q283: minimum distinct sensitive values per quasi-identifier class
L_DIV = 3


@register(
    "q283_l_diversity",
    oracle=f"""
        WITH g AS (
            SELECT event_type,
                   CAST(ts AS DATE) AS d,
                   CAST(COUNT(*) AS BIGINT) AS c,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS l
            FROM events GROUP BY event_type, CAST(ts AS DATE)
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
               CAST(SUM(CASE WHEN l < {L_DIV} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_low_div,
               CAST(MIN(l) AS BIGINT) AS min_l,
               CAST(SUM(CASE WHEN l < {L_DIV} THEN c ELSE 0 END)
                    * 1000000 // GREATEST(CAST(SUM(c) AS HUGEINT), 1)
                    AS BIGINT) AS rows_at_risk_ppm
        FROM g
    """,
    doc=f"l-diversity audit (l={L_DIV}) — k-anonymity's (q261) "
    "companion gate: a quasi-identifier class can be large (k-safe) "
    "yet expose its members if the SENSITIVE attribute barely varies "
    "inside it. Classes = (event_type, day); sensitive = user_id; "
    "classes with fewer than l distinct sensitive values are "
    "attribute-disclosure risks. One grouped count-distinct (two "
    "shuffles on the class key: partial distinct then class agg — "
    "map-side combinable both times) + a 4-column reduce; ppm rides "
    "the HUGEINT // convention. Day-grain classes stay bounded "
    "(groups = types x days), so the audit costs the same at any "
    "corpus scale.",
)
def q283(spark: SparkSession, sf: str) -> DataFrame:
    g = (
        table(spark, sf, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("d"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("c"),
            F.countDistinct("user_id").cast("bigint").alias("l"),
        )
    )
    return g.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum((F.col("l") < L_DIV).cast("int")).cast("bigint")
        .alias("n_low_div"),
        F.min("l").cast("bigint").alias("min_l"),
        F.expr(
            f"CAST(SUM(CASE WHEN l < {L_DIV} THEN c ELSE 0 END) "
            "* 1000000 DIV GREATEST(SUM(c), 1) AS BIGINT)"
        ).alias("rows_at_risk_ppm"),
    )


#: q284: MMR knobs — lambda 0.7 (the classic relevance-leaning pick),
#: 32-candidate shortlist (the bounded driver re-rank contract), k=8
MMR_K = 8
MMR_SHORTLIST = 32
MMR_LAM_PPM = 700_000


@register(
    "q284_mmr_diversified_topk",
    oracle=None,  # greedy sequential re-rank: no single-SQL form; the
    # greedy recurrence + shortlist bounds are exact-tested in
    # tests/test_llm.py
    doc="Maximal-marginal-relevance diversified top-k "
    f"(operators/similarity.mmr_topk, lambda={MMR_LAM_PPM}ppm, "
    f"shortlist={MMR_SHORTLIST}, k={MMR_K}): the retrieval "
    "diversification re-rank a vector surface needs next to plain "
    "q43 top-k — each pick maximizes lam*rel - (1-lam)*max-sim-to-"
    "picked, so near-duplicate hits can't fill the result page. "
    "Two-tier scale shape: relevance tier distributed over the "
    "corpus (cosine + TakeOrdered), only the shortlist (ids + "
    "vectors, model-sized by contract) crosses to the driver for "
    "the inherently sequential greedy, in exact integer-ppm "
    "arithmetic with id tie-breaks. Query = vec_id 0 (the q43 "
    "convention). Engine-side feature (no reference analog).",
)
def q284(spark: SparkSession, sf: str) -> DataFrame:
    from speculare_pgcdc_spark.operators import similarity as sim

    emb = table(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q")
    )
    return sim.mmr_topk(
        emb.filter(F.col("vec_id") != 0),
        q,
        k=MMR_K,
        shortlist=MMR_SHORTLIST,
        lam_ppm=MMR_LAM_PPM,
    )


#: q285: word n-gram order for the diversity statistics
DIVERSITY_N = 5


@register(
    "q285_ngram_diversity",
    oracle=f"""
        WITH tok AS (
            SELECT list_filter(string_split(COALESCE(text, ''), ' '),
                               t -> t <> '') AS ts
            FROM documents
        ),
        g AS (
            SELECT array_to_string(ts[i:i+{DIVERSITY_N - 1}], ' ')
                       AS gram
            FROM tok, UNNEST(range(1, len(ts) - {DIVERSITY_N - 2}))
                          AS u(i)
            WHERE len(ts) >= {DIVERSITY_N}
        ),
        df AS (SELECT gram, COUNT(*) AS df FROM g GROUP BY gram)
        SELECT CAST(SUM(df) AS BIGINT) AS total_grams,
               CAST(COUNT(*) AS BIGINT) AS distinct_grams,
               CAST(COUNT(*) * 1000000
                    // GREATEST(CAST(SUM(df) AS HUGEINT), 1)
                    AS BIGINT) AS ttr_ppm,
               CAST(SUM(df * (df - 1) // 2) AS BIGINT) AS rep_mass
        FROM df
    """,
    doc=f"Corpus diversity at the word {DIVERSITY_N}-gram grain: "
    "type/token ratio (distinct grams per million total — the "
    "self-BLEU-style homogeneity signal that actually scales: "
    "pairwise overlap is quadratic, but expected pairwise shared "
    "grams = sum_g C(df_g, 2) assembles EXACTLY from the gram "
    "document-frequency table) plus that collision mass itself "
    "(rep_mass). Low ttr / high rep_mass = templated or crawled-"
    "duplicate corpus before any pairwise dedup runs. One gram-keyed "
    "shuffle (map-side combinable count) + a single-row reduce; "
    "grams assemble in-expression (transform over sequence, no "
    "self-join); all-integer output, ppm by exact DIV.",
)
def q285(spark: SparkSession, sf: str) -> DataFrame:
    n = DIVERSITY_N
    toks = F.filter(
        F.split(F.coalesce(F.col("text"), F.lit("")), " "),
        lambda t: t != "",
    )
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    df = (
        table(spark, sf, "documents")
        .select(F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    return df.agg(
        F.sum("df").cast("bigint").alias("total_grams"),
        F.count(F.lit(1)).cast("bigint").alias("distinct_grams"),
        F.expr(
            "CAST(COUNT(1) * 1000000 "
            "DIV GREATEST(SUM(df), 1) AS BIGINT)"
        ).alias("ttr_ppm"),
        F.sum(F.expr("df * (df - 1) DIV 2")).cast("bigint")
        .alias("rep_mass"),
    )


#: q286: per-doc rows capped (the q276/q66 verification-sized
#: convention); the bigram tier is per-doc anyway so the filter
#: prunes at the scan
ENTROPY_DOC_CAP = 40


@register(
    "q286_char_bigram_entropy",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, COALESCE(text, '') AS txt
            FROM documents WHERE doc_id < {ENTROPY_DOC_CAP}
        ),
        bg AS (
            SELECT doc_id, substr(txt, i, 2) AS b
            FROM d, UNNEST(range(1, length(txt))) AS u(i)
            WHERE length(txt) >= 2
        ),
        f AS (
            SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS f
            FROM bg GROUP BY doc_id, b
        ),
        s AS (
            SELECT doc_id,
                   CAST(SUM(f) AS BIGINT) AS n,
                   SUM(CAST(f * ln(CAST(f AS DOUBLE))
                            AS DECIMAL(28,12))) AS sfl
            FROM f GROUP BY doc_id
        )
        SELECT doc_id,
               n AS n_bigrams,
               CAST(ROUND(ln(CAST(n AS DOUBLE))
                          - CAST(sfl AS DOUBLE) / n, 6)
                    AS DOUBLE) AS entropy
        FROM s ORDER BY doc_id
    """,
    doc="Per-document character-bigram Shannon entropy (nats): "
    "H = ln(n) - (sum_b f_b ln f_b) / n — the algebraic form whose "
    "ln arguments are all INTEGER-valued (bigram counts and the "
    "total), riding the pinned cross-engine ln bit-identity "
    "contract; each f*ln(f) term truncates to DECIMAL(28,12) before "
    "the order-free sum (the q276 convention), published ROUND 6. "
    "Low entropy = repetitive/templated text, high = encrypted or "
    "binary-ish noise — both gate ends of the classic quality "
    "filter. Bigrams assemble in-expression (transform over "
    "sequence), one (doc, bigram) count + one per-doc reduce, both "
    "map-side combinable; published rows capped at doc_id < "
    f"{ENTROPY_DOC_CAP} with the filter pushed to the scan.",
)
def q286(spark: SparkSession, sf: str) -> DataFrame:
    txt = F.coalesce(F.col("text"), F.lit(""))
    bigrams = F.when(
        F.length(txt) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.length(txt) - 1),
            lambda i: F.substring(txt, i, 2),
        ),
    ).otherwise(F.array().cast("array<string>"))
    f = (
        table(spark, sf, "documents")
        .filter(F.col("doc_id") < ENTROPY_DOC_CAP)
        .select("doc_id", F.explode(bigrams).alias("b"))
        .groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )
    s = f.groupBy("doc_id").agg(
        F.sum("f").cast("bigint").alias("n"),
        F.sum(
            (F.col("f") * F.log(F.col("f").cast("double")))
            .cast("decimal(28,12)")
        ).alias("sfl"),
    )
    return s.select(
        "doc_id",
        F.col("n").alias("n_bigrams"),
        F.round(
            F.log(F.col("n").cast("double"))
            - F.col("sfl").cast("double") / F.col("n"),
            6,
        ).cast("double").alias("entropy"),
    ).orderBy("doc_id")


#: q287: Poisson-bootstrap replicates and the Poisson(1) CDF
#: thresholds (17-sig-digit double literals — both engines parse
#: decimal literals to the same correctly-rounded double, and the
#: md5-derived uniform is an exact dyadic rational, so the weight
#: CASE is bit-stable cross-engine). Weights cap at 6 (P > 6 under
#: Poisson(1) ~ 8e-5 — the standard truncation).
BOOT_B = 40
POISSON1_CDF = (
    "0.36787944117144233",
    "0.7357588823428847",
    "0.9196986029286058",
    "0.9810118431238463",
    "0.9963401531726563",
    "0.9994058151824183",
)


def _boot_u_sql(b: str, key: str) -> str:
    """48-bit md5-derived uniform in (0, 1] — DuckDB rendering."""
    return (
        f"(CAST(CAST(concat('0x', substr(md5(concat(CAST({b} AS "
        f"VARCHAR), ':', CAST({key} AS VARCHAR))), 1, 12)) AS BIGINT) "
        f"AS BIGINT) + 1) / {float(1 << 48)!r}"
    )


def _boot_w_sql(u_expr: str) -> str:
    cases = " ".join(
        f"WHEN {u_expr} < {t} THEN {k}"
        for k, t in enumerate(POISSON1_CDF)
    )
    return f"(CASE {cases} ELSE 6 END)"


@register(
    "q287_poisson_bootstrap_ci",
    oracle=f"""
        WITH r AS (
            SELECT o_orderkey,
                   CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS p,
                   b
            FROM orders, UNNEST(range({BOOT_B})) AS u(b)
        ),
        w AS (
            SELECT b, p,
                   {_boot_w_sql(_boot_u_sql('b', 'o_orderkey'))} AS w
            FROM r
        ),
        m AS (
            SELECT b,
                   CAST(SUM(w * p) AS HUGEINT)
                   // GREATEST(CAST(SUM(w) AS HUGEINT), 1) AS mean_e2
            FROM w GROUP BY b
        ),
        o AS (
            SELECT mean_e2,
                   ROW_NUMBER() OVER (ORDER BY mean_e2, b) AS rn
            FROM m
        ),
        pt AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(CAST(SUM(CAST(FLOOR(o_totalprice * 100)
                                      AS BIGINT)) AS HUGEINT)
                        // COUNT(*) AS BIGINT) AS mean_e2
            FROM orders
        )
        SELECT pt.n_rows, pt.mean_e2,
               CAST(MAX(CASE WHEN rn = 2 THEN o.mean_e2 END)
                    AS BIGINT) AS ci_lo_e2,
               CAST(MAX(CASE WHEN rn = {BOOT_B - 1} THEN o.mean_e2 END)
                    AS BIGINT) AS ci_hi_e2
        FROM o, pt GROUP BY pt.n_rows, pt.mean_e2
    """,
    doc=f"Poisson bootstrap CI for the mean — THE bootstrap that "
    "works at 100 TB: classical resampling needs n draws with "
    "replacement (a global shuffle per replicate); the Poisson "
    "approximation gives every row an independent Poisson(1) weight "
    f"per replicate, so all {BOOT_B} replicates assemble in ONE scan "
    "as 2x{BOOT_B} map-side-combinable aggregates — no explode, no "
    "extra shuffle, no data inflation (the oracle MAY explode; the "
    "Spark plan must not). Weights are md5(b:key)-derived inverse-"
    "CDF draws (deterministic, restart-stable); per-replicate means "
    "are exact integer cents (BIGINT DIV; the DuckDB side casts its "
    "DECIMAL sums to HUGEINT before // per the engine convention); "
    "the CI is the [2nd, {BOOT_B - 1}th] order statistic of the "
    f"{BOOT_B} replicate means — a {BOOT_B}-row sort, model-sized "
    "by construction. BIGINT sum headroom ~1.8e11 rows at max "
    "weight x max price; beyond that the q265 DECIMAL(38,0) "
    "accumulation swap is mechanical.",
)
def q287(spark: SparkSession, sf: str) -> DataFrame:
    o = table(spark, sf, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("p"),
    )

    def w_col(b: int) -> F.Column:
        u = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(str(b)),
                            F.lit(":"),
                            F.col("o_orderkey").cast("string"),
                        )
                    ),
                    1,
                    12,
                ),
                16,
                10,
            ).cast("bigint")
            + 1
        ) / float(1 << 48)
        expr = F.lit(6)
        for k in range(len(POISSON1_CDF) - 1, -1, -1):
            expr = F.when(u < float(POISSON1_CDF[k]), F.lit(k)).otherwise(
                expr
            )
        return expr.cast("bigint")

    aggs = [
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.expr("CAST(SUM(p) DIV COUNT(1) AS BIGINT)").alias("mean_e2"),
    ]
    for b in range(BOOT_B):
        w = w_col(b)
        aggs.append(F.sum(w * F.col("p")).alias(f"s{b}"))
        aggs.append(F.sum(w).alias(f"c{b}"))
    one = o.agg(*aggs)
    means = F.array_sort(
        F.array(
            *[
                F.expr(f"CAST(s{b} DIV GREATEST(c{b}, 1) AS BIGINT)")
                for b in range(BOOT_B)
            ]
        )
    )
    return one.select(
        "n_rows",
        "mean_e2",
        F.element_at(means, 2).alias("ci_lo_e2"),
        F.element_at(means, BOOT_B - 1).alias("ci_hi_e2"),
    )


#: q288: count-min sketch geometry (D hash rows x W buckets) and how
#: many exact-top keys to audit
CMS_D = 4
CMS_W = 64
CMS_TOPK = 10


@register(
    "q288_count_min_sketch",
    oracle=f"""
        WITH cells AS (
            SELECT d,
                   CAST(CAST(concat('0x', substr(md5(concat(
                       CAST(d AS VARCHAR), ':',
                       CAST(user_id AS VARCHAR))), 1, 12)) AS BIGINT)
                       AS BIGINT) % {CMS_W} AS cell,
                   user_id
            FROM events, UNNEST(range({CMS_D})) AS u(d)
        ),
        sketch AS (
            SELECT d, cell, CAST(COUNT(*) AS BIGINT) AS c
            FROM cells GROUP BY d, cell
        ),
        tops AS (
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_n
            FROM events GROUP BY user_id
            ORDER BY exact_n DESC, user_id LIMIT {CMS_TOPK}
        ),
        est AS (
            SELECT t.user_id, t.exact_n, MIN(s.c) AS cms_est
            FROM tops t,
                 UNNEST(range({CMS_D})) AS u(d)
                 JOIN sketch s
                   ON s.d = u.d
                  AND s.cell = CAST(CAST(concat('0x', substr(md5(
                          concat(CAST(u.d AS VARCHAR), ':',
                                 CAST(t.user_id AS VARCHAR))), 1, 12))
                          AS BIGINT) AS BIGINT) % {CMS_W}
            GROUP BY t.user_id, t.exact_n
        )
        SELECT user_id, exact_n, CAST(cms_est AS BIGINT) AS cms_est,
               CAST(cms_est - exact_n AS BIGINT) AS overcount
        FROM est ORDER BY exact_n DESC, user_id
    """,
    doc=f"Count-min sketch ({CMS_D}x{CMS_W}, md5-derived hash rows) "
    "with its point-query audit against the exact heavy hitters — "
    "the mergeable frequency sketch that complements the Misra-Gries "
    "tier: CMS is a fixed 256-cell grid REGARDLESS of key "
    "cardinality, merges by cell-wise addition across partitions/"
    "days/streams, and never undercounts (est >= exact is the "
    "one-sided guarantee this query's overcount column audits, and "
    "the oracle hash-checks — the sketch is DETERMINISTIC given its "
    "md5 hash family, so unlike most sketches it takes a full "
    "value-equality oracle, not just error bounds). Build = one "
    f"grouped count over a {CMS_D}x-exploded key stream (map-side "
    "combinable into <= 256 cells — the explode never reaches the "
    f"shuffle); audit = top-{CMS_TOPK} exact keys probe the "
    "broadcast-sized sketch.",
)
def q288(spark: SparkSession, sf: str) -> DataFrame:
    ev = table(spark, sf, "events").select("user_id")

    def cell(d, key):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            d.cast("string"),
                            F.lit(":"),
                            key.cast("string"),
                        )
                    ),
                    1,
                    12,
                ),
                16,
                10,
            ).cast("bigint")
            % CMS_W
        )

    cells = ev.select(
        F.explode(
            F.sequence(F.lit(0), F.lit(CMS_D - 1))
        ).alias("d"),
        "user_id",
    ).select("d", cell(F.col("d"), F.col("user_id")).alias("cell"))
    sketch = cells.groupBy("d", "cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    tops = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), "user_id")
        .limit(CMS_TOPK)
    )
    probes = tops.select(
        "user_id",
        "exact_n",
        F.explode(F.sequence(F.lit(0), F.lit(CMS_D - 1))).alias("d"),
    ).select(
        "user_id",
        "exact_n",
        "d",
        cell(F.col("d"), F.col("user_id")).alias("cell"),
    )
    est = (
        probes.join(F.broadcast(sketch), ["d", "cell"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("c").cast("bigint").alias("cms_est"))
    )
    return est.select(
        "user_id",
        "exact_n",
        "cms_est",
        (F.col("cms_est") - F.col("exact_n")).cast("bigint")
        .alias("overcount"),
    ).orderBy(F.col("exact_n").desc(), "user_id")


#: q289: banded-percentile bin width (seconds of delay per bin)
TTC_BIN_S = 3600


@register(
    "q289_time_to_convert",
    oracle=f"""
        WITH per_user AS (
            SELECT user_id,
                   MIN(CASE WHEN event_type = 'view'
                            THEN epoch_us(ts) END) AS tv,
                   MIN(CASE WHEN event_type = 'purchase'
                            THEN epoch_us(ts) END) AS tp
            FROM events GROUP BY user_id
        ),
        conv AS (
            SELECT user_id, (tp - tv) // 1000000 AS delay_s
            FROM per_user WHERE tv IS NOT NULL AND tp > tv
        ),
        n AS (
            SELECT CAST(SUM(CASE WHEN tv IS NOT NULL THEN 1 ELSE 0
                            END) AS BIGINT) AS n_viewed,
                   CAST(COUNT(*) AS BIGINT) AS n_users
            FROM per_user
        ),
        rk AS (
            SELECT delay_s,
                   ROW_NUMBER() OVER (ORDER BY delay_s, user_id) AS rn,
                   COUNT(*) OVER () AS nc
            FROM conv
        )
        SELECT n.n_viewed,
               CAST(MAX(nc) AS BIGINT) AS n_converted,
               CAST(MAX(nc) * 1000000
                    // GREATEST(CAST(n.n_viewed AS HUGEINT), 1)
                    AS BIGINT) AS conv_ppm,
               CAST(MAX(CASE WHEN rn = (nc + 1) // 2
                        THEN delay_s END) AS BIGINT)
                   AS median_delay_s,
               CAST(MAX(CASE WHEN rn = (nc * 9 + 9) // 10
                        THEN delay_s END) AS BIGINT)
                   AS p90_delay_s
        FROM rk, n GROUP BY n.n_viewed
    """,
    doc="Time-to-convert funnel statistics: per user, first view -> "
    "first purchase delay; conversion share (exact ppm) plus the "
    "EXACT median and p90 of the delay distribution — the "
    "product-analytics consumer of the event stream (q264's funnel "
    "counts stages; this measures the clock between them). Per-user "
    "reduce is one map-side-combinable conditional-MIN agg; the "
    "order statistics ride the banded global rank "
    f"(operators/rankband, {TTC_BIN_S}s delay bins) so no data-grain "
    "single-partition sort exists even though the percentiles are "
    "global — the oracle states the plain ROW_NUMBER spec the band "
    "provably equals. Rank targets: lower median (n+1) DIV 2, p90 "
    "at ceil(0.9 n) = (9n+9) DIV 10.",
)
def q289(spark: SparkSession, sf: str) -> DataFrame:
    from speculare_pgcdc_spark.operators.rankband import (
        banded_row_number,
    )

    t = F.unix_micros(F.col("ts"))
    pu = (
        table(spark, sf, "events")
        .groupBy("user_id")
        .agg(
            F.min(
                F.when(F.col("event_type") == "view", t)
            ).alias("tv"),
            F.min(
                F.when(F.col("event_type") == "purchase", t)
            ).alias("tp"),
        )
    )
    conv = pu.filter(
        F.col("tv").isNotNull() & (F.col("tp") > F.col("tv"))
    ).select(
        "user_id",
        F.expr("(tp - tv) DIV 1000000").alias("delay_s"),
    )
    stats = pu.agg(
        F.sum(F.col("tv").isNotNull().cast("int")).cast("bigint")
        .alias("n_viewed")
    )
    ranked = banded_row_number(
        conv,
        [F.col("delay_s"), F.col("user_id")],
        F.expr(f"delay_s DIV {TTC_BIN_S}"),
        out="rn",
    )
    nc = conv.agg(
        F.count(F.lit(1)).cast("bigint").alias("nc")
    )
    picks = (
        ranked.crossJoin(F.broadcast(nc))
        .filter(
            (F.col("rn") == F.expr("(nc + 1) DIV 2"))
            | (F.col("rn") == F.expr("(nc * 9 + 9) DIV 10"))
        )
        .agg(
            F.max("nc").cast("bigint").alias("n_converted"),
            F.max(
                F.when(
                    F.col("rn") == F.expr("(nc + 1) DIV 2"),
                    F.col("delay_s"),
                )
            ).cast("bigint").alias("median_delay_s"),
            F.max(
                F.when(
                    F.col("rn") == F.expr("(nc * 9 + 9) DIV 10"),
                    F.col("delay_s"),
                )
            ).cast("bigint").alias("p90_delay_s"),
        )
    )
    return (
        stats.crossJoin(F.broadcast(picks))
        .select(
            "n_viewed",
            "n_converted",
            F.expr(
                "CAST(n_converted * 1000000 DIV GREATEST(n_viewed, 1) "
                "AS BIGINT)"
            ).alias("conv_ppm"),
            "median_delay_s",
            "p90_delay_s",
        )
        # empty-conversion SHAPE parity (round-10 advice): the global
        # agg over an empty `conv` still yields one all-NULL row, but
        # the oracle's `FROM rk, n` cross join with empty rk yields
        # ZERO rows — drop the NULL row so both engines agree on any
        # fixture with no converting user.
        .filter(F.col("n_converted").isNotNull())
    )


@register(
    "q290_markov_transitions",
    oracle="""
        WITH s AS (
            SELECT user_id, event_type AS t, epoch_us(ts) AS tu,
                   event_id,
                   LAG(event_type) OVER (
                       PARTITION BY user_id
                       ORDER BY epoch_us(ts), event_id) AS prev_t
            FROM events
        ),
        e AS (
            SELECT prev_t, t, CAST(COUNT(*) AS BIGINT) AS n
            FROM s WHERE prev_t IS NOT NULL GROUP BY prev_t, t
        ),
        tot AS (
            SELECT prev_t, CAST(SUM(n) AS BIGINT) AS out_n
            FROM e GROUP BY prev_t
        )
        SELECT e.prev_t, e.t, e.n,
               CAST(e.n * 1000000
                    // CAST(tot.out_n AS HUGEINT) AS BIGINT) AS p_ppm
        FROM e JOIN tot ON e.prev_t = tot.prev_t
        ORDER BY e.prev_t, e.t
    """,
    doc="First-order Markov transition matrix over per-user event "
    "sequences: counts and exact-ppm row-normalized probabilities of "
    "type -> type transitions — the behavioral-analytics consumer "
    "behind session-path mining, anomaly baselines ('error after "
    "purchase is 40x rarer than after click'), and synthetic-journey "
    "generation. One lag over the user-partitioned order (high-"
    "cardinality key, no band), one edge-grain count, one tiny "
    "(types x types) normalize join — the transition matrix is "
    "CONSTANT-sized however large the stream, so this is a "
    "bounded-output full-corpus scan at any scale. Ties in ts "
    "totalized by event_id; ppm by exact DIV (HUGEINT on the DuckDB "
    "side).",
)
def q290(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros(F.col("ts")), "event_id"
    )
    s = table(spark, sf, "events").select(
        F.col("event_type").alias("t"),
        F.lag("event_type").over(w).alias("prev_t"),
    )
    e = (
        s.filter(F.col("prev_t").isNotNull())
        .groupBy("prev_t", "t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    tot = e.groupBy("prev_t").agg(
        F.sum("n").cast("bigint").alias("out_n")
    )
    return (
        e.join(F.broadcast(tot), "prev_t")
        .select(
            "prev_t",
            "t",
            "n",
            F.expr("CAST(n * 1000000 DIV out_n AS BIGINT)")
            .alias("p_ppm"),
        )
        .orderBy("prev_t", "t")
    )


@register(
    "q291_source_label_gini",
    oracle="""
        WITH c AS (
            SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
            FROM documents GROUP BY source, lang
        ),
        s AS (
            SELECT source,
                   CAST(SUM(c) AS BIGINT) AS n,
                   CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS ss,
                   CAST(MAX(c) AS BIGINT) AS top_c,
                   CAST(COUNT(*) AS BIGINT) AS n_labels
            FROM c GROUP BY source
        )
        SELECT source, n, n_labels,
               CAST((CAST(n AS HUGEINT) * n - ss) * 1000000
                    // (CAST(n AS HUGEINT) * n) AS BIGINT)
                   AS gini_ppm,
               CAST(top_c * 1000000 // CAST(n AS HUGEINT) AS BIGINT)
                   AS majority_ppm
        FROM s ORDER BY source
    """,
    doc="Per-source label (language) Gini impurity + majority share, "
    "exact ppm: gini = (n² - Σc²)/n² — the mixture-design audit "
    "('is this source monolingual boilerplate or a real mix?') that "
    "gates per-source sampling weights (q89/q240) and flags label "
    "leakage between splits. Two map-side-combinable aggregates "
    "((source, lang) then source), zero windows/joins; the squared "
    "sums ride HUGEINT/DECIMAL headroom on both sides (c² at 1e11 "
    "rows per class would overflow BIGINT — the q265 lesson applied "
    "up front). Output is sources-sized: constant, scale-free.",
)
def q291(spark: SparkSession, sf: str) -> DataFrame:
    c = (
        table(spark, sf, "documents")
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    s = c.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(
            F.col("c").cast("decimal(38,0)") * F.col("c")
        ).alias("ss"),
        F.max("c").cast("bigint").alias("top_c"),
        F.count(F.lit(1)).cast("bigint").alias("n_labels"),
    )
    # exact floor-division on DECIMAL(38,0): (a - a % b) / b — the
    # mod and subtraction are exact at scale 0 and the final quotient
    # is an exact integer, so Spark's round-to-scale decimal division
    # is the identity on it (plain a/b would HALF_UP-round the true
    # quotient at 1e-6 before floor — the banned DECIMAL DIV class)
    nn = F.col("n").cast("decimal(38,0)") * F.col("n")
    num = (nn - F.col("ss")) * 1_000_000
    return s.select(
        "source",
        "n",
        "n_labels",
        ((num - num % nn) / nn).cast("bigint").alias("gini_ppm"),
        F.expr("CAST(top_c * 1000000 DIV n AS BIGINT)")
        .alias("majority_ppm"),
    ).orderBy("source")
