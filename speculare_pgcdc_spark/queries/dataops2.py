"""Data-ops batch (round 13, q316-q323): banded-layout balance audit,
reciprocal-rank fusion, exact power-of-two time-decayed value,
tokenizer compression + OOV coverage audits, sample-ratio-mismatch
detection, the tiered dedup waterfall, and the k-anonymity
generalization ladder — layout, retrieval, decay, tokenizer, and
privacy ops a 100 TB training-data pipeline runs beside the CDC
surface.

Reference scope note: the reference engine (src/) is a CDC forwarder
with no analytics; these rows extend SURVEY.md §2D (the build brief's
first-class training/ops tier) like q281-q315 before them.

Engine-stability conventions as everywhere: integer-ppm via exact DIV
(HUGEINT // in DuckDB, BIGINT DIV in Spark), microsecond-integer time
arithmetic, md5 determinism, FLOOR only on operand-identical doubles,
power-of-two decay via shiftleft (exact in both engines — never
POWER()'s libm double), wide sums held in DECIMAL(38,0)/HUGEINT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from speculare_pgcdc_spark.catalog import table
from speculare_pgcdc_spark.operators import textstats as ts
from speculare_pgcdc_spark.queries import register

#: q316: target rows/band for the audited layout — the band COUNT and
#: width now DERIVE from corpus size exactly like
#: cdc/apply.py:write_banded_snapshot's round-14 auto-selection
#: (ceil(rows/target) bands clamped to [1, 4096], width =
#: (hi - min(lo, 0)) // n_bands + 1), so the audit reports the
#: derived choice instead of a hand-pinned width
BAND_TARGET_ROWS = 1000
BAND_MAX_AUTO = 4096
#: q317: the standard RRF dampening constant
RRF_K = 60
#: q318: decay half-life = one week, exact in microseconds
WEEK_US = 604_800_000_000
#: q318: decay cap (values older than 8 weeks all get weight 2^-8)
DECAY_CAP = 8
#: q320: corpus-global vocabulary size for the OOV audit
VOCAB_K = 32
#: q321: chi-square(1) critical value at alpha=0.05, ppm-scaled
CHI2_CRIT_PPM = 3_841_459
#: q322: trailer / prefix fingerprint lengths (q308's trailer grain +
#: its leading-boilerplate mirror)
WF_TRAIL = 16
WF_PREFIX = 32
#: q323: the k in k-anonymity the ladder is searched for
LADDER_K = 10

#: q248's marker-token language CASE, shared verbatim by q319's oracle
_LANG_CASE = """
    CASE WHEN contains(' ' || text || ' ', ' the ') THEN 'en'
         WHEN contains(' ' || text || ' ', ' der ') THEN 'de'
         WHEN contains(' ' || text || ' ', ' el ') THEN 'es'
         WHEN contains(' ' || text || ' ', ' le ') THEN 'fr'
         ELSE 'unk' END
"""

#: whitespace token count, the q44 convention, DuckDB side
_NTOK_SQL = "len(list_filter(string_split(text, ' '), t -> t <> ''))"


@register(
    "q316_band_layout_audit",
    oracle=f"""
        WITH w AS (
            SELECT LEAST({BAND_MAX_AUTO}, GREATEST(1,
                       (COUNT(*) + {BAND_TARGET_ROWS - 1})
                           // {BAND_TARGET_ROWS})) AS n_bands,
                   GREATEST(1,
                       (MAX(o_orderkey) - LEAST(MIN(o_orderkey), 0))
                       // LEAST({BAND_MAX_AUTO}, GREATEST(1,
                           (COUNT(*) + {BAND_TARGET_ROWS - 1})
                               // {BAND_TARGET_ROWS})) + 1) AS width
            FROM orders),
        b AS (
            SELECT o_orderkey // w.width AS band,
                   CAST(w.width AS BIGINT) AS band_width,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust,
                   CAST(MIN(o_orderkey) AS BIGINT) AS key_lo,
                   CAST(MAX(o_orderkey) AS BIGINT) AS key_hi,
                   CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS rev_e2
            FROM orders, w GROUP BY 1, 2
        ),
        t AS (SELECT SUM(n_rows) AS total FROM b)
        SELECT band, band_width, n_rows, n_cust, key_lo, key_hi, rev_e2,
               CAST(CAST(1000000 * n_rows AS HUGEINT)
                    // CAST(t.total AS HUGEINT) AS BIGINT)
                   AS share_ppm
        FROM b, t
        ORDER BY n_rows DESC, band LIMIT 20
    """,
    doc="Banded-layout balance audit: occupancy, distinct-key spread, "
    "key range, and revenue mass per key band — the health check for "
    "the range-banded snapshot layout the snapshot consumer "
    "maintains when its dir holds one (cdc/apply.py:"
    "start_matview_query; a "
    "hot band means its dir is rewritten every batch, an empty band "
    "range means wasted pruning metadata). The band width is DERIVED "
    "exactly as write_banded_snapshot's round-14 auto-selection "
    f"derives it — ceil(rows/{BAND_TARGET_ROWS}) bands clamped to "
    f"[1, {BAND_MAX_AUTO}], width = span // n_bands + 1 — and "
    "reported per row (band_width), so the audit attests the "
    "auto-chosen layout, not a hand-pinned one. share_ppm is "
    "integer-exact ((1e6*n) DIV total). Shape: a 1-row broadcast "
    "width derivation, ONE hash agg on the computed band key (exact "
    "DIV keeps it unskewable only if keys are; that skew is "
    "precisely what the audit reports) + a broadcast single-row "
    "totals join + TakeOrdered top-20 — no window, scales as a scan.",
)
def q316(spark: SparkSession, sf: str) -> DataFrame:
    orders = table(spark, sf, "orders")
    nb = (
        f"LEAST({BAND_MAX_AUTO}, GREATEST(1, "
        f"(COUNT(*) + {BAND_TARGET_ROWS - 1}) DIV {BAND_TARGET_ROWS}))"
    )
    w = orders.agg(
        F.expr(
            f"GREATEST(1, (MAX(o_orderkey) - LEAST(MIN(o_orderkey), 0))"
            f" DIV {nb} + 1)"
        ).alias("width")
    )
    b = (
        orders.crossJoin(F.broadcast(w))
        .groupBy(
            F.expr("o_orderkey DIV width").alias("band"),
            F.col("width").cast("bigint").alias("band_width"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct("o_custkey").cast("bigint").alias("n_cust"),
            F.min("o_orderkey").cast("bigint").alias("key_lo"),
            F.max("o_orderkey").cast("bigint").alias("key_hi"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100).cast("bigint")
            ).cast("bigint").alias("rev_e2"),
        )
    )
    t = b.agg(F.sum("n_rows").alias("total"))
    return (
        b.crossJoin(F.broadcast(t))
        .select(
            "band", "band_width", "n_rows", "n_cust", "key_lo",
            "key_hi", "rev_e2",
            F.expr("CAST((1000000 * n_rows) DIV total AS BIGINT)")
            .alias("share_ppm"),
        )
        .orderBy(F.desc("n_rows"), "band")
        .limit(20)
    )


@register(
    "q317_reciprocal_rank_fusion",
    oracle=f"""
        WITH d AS (
            SELECT source, doc_id, n_chars,
                   {_NTOK_SQL} AS ntok
            FROM documents
        ),
        r AS (
            SELECT source, doc_id,
                   ROW_NUMBER() OVER (PARTITION BY source
                                      ORDER BY ntok DESC, doc_id)
                       AS r_tok,
                   ROW_NUMBER() OVER (PARTITION BY source
                                      ORDER BY n_chars ASC, doc_id)
                       AS r_brev
            FROM d
        ),
        f AS (
            SELECT source, doc_id, r_tok, r_brev,
                   CAST(CAST(1000000000 AS HUGEINT)
                        // CAST({RRF_K} + r_tok AS HUGEINT)
                      + CAST(1000000000 AS HUGEINT)
                        // CAST({RRF_K} + r_brev AS HUGEINT)
                        AS BIGINT) AS rrf_e9
            FROM r
        )
        SELECT source, doc_id, r_tok, r_brev, rrf_e9
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                                         ORDER BY rrf_e9 DESC, doc_id)
                       AS pick
            FROM f
        ) WHERE pick <= 3
        ORDER BY source, rrf_e9 DESC, doc_id
    """,
    doc="Reciprocal-rank fusion: fuse two per-source document "
    "rankings — token-richness (ntok DESC) and brevity (n_chars ASC) "
    "— with the standard RRF score sum(1/(k+rank)), k="
    f"{RRF_K}, held integer-exact as 1e9 DIV (k+rank); top-3 fused "
    "docs per source. The multi-signal re-ranker every retrieval "
    "stack runs over its candidate generators (BM25 q201 + ANN q53 "
    "in production; two deterministic signals here so the oracle is "
    "exact). Shape: all three windows ride ONE source exchange "
    "(same partitioning, re-sorted in place); per-group volume at "
    "100 TB takes the q130 banded-rank rewrite if a single source "
    "outgrows a partition — no global sort anywhere.",
)
def q317(spark: SparkSession, sf: str) -> DataFrame:
    d = table(spark, sf, "documents").select(
        "source", "doc_id", "n_chars",
        ts.token_count_ws(F.col("text")).alias("ntok"),
    )
    w_tok = Window.partitionBy("source").orderBy(
        F.desc("ntok"), F.asc("doc_id")
    )
    w_brev = Window.partitionBy("source").orderBy(
        F.asc("n_chars"), F.asc("doc_id")
    )
    r = d.select(
        "source", "doc_id",
        F.row_number().over(w_tok).alias("r_tok"),
        F.row_number().over(w_brev).alias("r_brev"),
    )
    f = r.select(
        "source", "doc_id", "r_tok", "r_brev",
        F.expr(
            f"CAST(1000000000 DIV ({RRF_K} + r_tok) "
            f"+ 1000000000 DIV ({RRF_K} + r_brev) AS BIGINT)"
        ).alias("rrf_e9"),
    )
    w_pick = Window.partitionBy("source").orderBy(
        F.desc("rrf_e9"), F.asc("doc_id")
    )
    return (
        f.select("*", F.row_number().over(w_pick).alias("pick"))
        .filter(F.col("pick") <= 3)
        .drop("pick")
        .orderBy("source", F.desc("rrf_e9"), "doc_id")
    )


@register(
    "q318_decayed_value",
    oracle=f"""
        WITH a AS (
            SELECT MAX(epoch_us(ts)) AS anchor FROM events
        ),
        e AS (
            SELECT user_id,
                   CAST(FLOOR(value * 100) AS BIGINT) AS ve2,
                   LEAST((a.anchor - epoch_us(ts)) // {WEEK_US},
                         {DECAY_CAP}) AS w
            FROM events, a
        ),
        u AS (
            SELECT user_id,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   SUM(CAST(ve2 AS HUGEINT)
                       * CAST(CAST(1 AS BIGINT)
                              << CAST({DECAY_CAP} - w AS INTEGER)
                              AS HUGEINT)) AS s
            FROM e GROUP BY user_id
        )
        SELECT user_id, n_events,
               CAST((s - s % {2 ** DECAY_CAP}) // {2 ** DECAY_CAP}
                    AS BIGINT) AS decayed_e2
        FROM u
        ORDER BY decayed_e2 DESC, user_id LIMIT 20
    """,
    doc="Time-decayed user value with EXACT power-of-two decay: each "
    "event's cents-value is weighted by 2^-w, w = capped whole weeks "
    f"of age (cap {DECAY_CAP}) against the corpus max timestamp; "
    "weights are applied as integer shifts (ve2 << (cap - w)) summed "
    "in HUGEINT/DECIMAL(38,0), with ONE truncating division by 2^cap "
    "at the end — the identical (a - a%b)/b trunc-div on both "
    "engines, so the score is bit-exact where libm EXP() would "
    "drift. The recency-weighted LTV every engagement ranker feeds "
    "on. Shape: one broadcast scalar (the anchor) + one user-keyed "
    "hash agg + TakeOrdered top-20; decay math is scan-time integer "
    "arithmetic, no window.",
)
def q318(spark: SparkSession, sf: str) -> DataFrame:
    ev = table(spark, sf, "events")
    a = ev.agg(F.max(F.unix_micros("ts")).alias("anchor"))
    e = ev.crossJoin(F.broadcast(a)).select(
        "user_id",
        F.floor(F.col("value") * 100).cast("bigint").alias("ve2"),
        F.least(
            F.expr(f"(anchor - unix_micros(ts)) DIV {WEEK_US}"),
            F.lit(DECAY_CAP).cast("bigint"),
        ).alias("w"),
    )
    u = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(
            F.expr(
                f"CAST(ve2 AS DECIMAL(38,0)) "
                f"* CAST(shiftleft(CAST(1 AS BIGINT), "
                f"CAST({DECAY_CAP} - w AS INT)) AS DECIMAL(38,0))"
            )
        ).alias("s"),
    )
    return (
        u.select(
            "user_id", "n_events",
            F.expr(
                f"CAST((s - s % {2 ** DECAY_CAP}) / {2 ** DECAY_CAP} "
                "AS BIGINT)"
            ).alias("decayed_e2"),
        )
        .orderBy(F.desc("decayed_e2"), "user_id")
        .limit(20)
    )


@register(
    "q319_bytes_per_token_by_lang",
    oracle=f"""
        WITH p AS (
            SELECT {_LANG_CASE} AS guess,
                   length(text) AS chars,
                   {_NTOK_SQL} AS ntok
            FROM documents
        )
        SELECT guess,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(chars) AS BIGINT) AS chars_total,
               CAST(SUM(ntok) AS BIGINT) AS tok_total,
               CAST(CAST(1000000 * SUM(chars) AS HUGEINT)
                    // CAST(SUM(ntok) AS HUGEINT) AS BIGINT)
                   AS bytes_per_token_ppm
        FROM p GROUP BY guess HAVING SUM(ntok) > 0
        ORDER BY guess
    """,
    doc="Tokenizer compression audit: chars-per-whitespace-token (ppm, "
    "integer-exact DIV) per q49-heuristic language class — the "
    "bytes/token budget number that sizes a tokenizer's fertility "
    "per language before training (languages with high bytes/token "
    "are under-served by the vocab; pairs with q217's fertility and "
    "q248's classifier eval). Shape: scan-time classify + length "
    "exprs into ONE small-key hash agg; no join, no window, no "
    "explode — the cheapest possible full-corpus pass at 100 TB.",
)
def q319(spark: SparkSession, sf: str) -> DataFrame:
    p = table(spark, sf, "documents").select(
        ts.lang_guess(F.col("text")).alias("guess"),
        F.length("text").alias("chars"),
        ts.token_count_ws(F.col("text")).alias("ntok"),
    )
    return (
        p.groupBy("guess")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("chars").cast("bigint").alias("chars_total"),
            F.sum("ntok").cast("bigint").alias("tok_total"),
        )
        .filter(F.col("tok_total") > 0)
        .select(
            "guess", "n_docs", "chars_total", "tok_total",
            F.expr(
                "CAST((1000000 * chars_total) DIV tok_total AS BIGINT)"
            ).alias("bytes_per_token_ppm"),
        )
        .orderBy("guess")
    )


@register(
    "q320_oov_rate",
    oracle=f"""
        WITH st AS (
            SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS n
            FROM (
                SELECT source,
                       unnest(list_filter(string_split(text, ' '),
                                          t -> t <> '')) AS tok
                FROM documents
            ) GROUP BY source, tok
        ),
        vocab AS (
            SELECT tok FROM (
                SELECT tok, SUM(n) AS cnt FROM st GROUP BY tok
                ORDER BY cnt DESC, tok LIMIT {VOCAB_K}
            )
        ),
        agg AS (
            SELECT st.source,
                   SUM(st.n) AS total,
                   SUM(CASE WHEN v.tok IS NULL THEN st.n ELSE 0 END)
                       AS oov
            FROM st LEFT JOIN vocab v ON st.tok = v.tok
            GROUP BY st.source
        )
        SELECT source,
               CAST(total AS BIGINT) AS tok_total,
               CAST(oov AS BIGINT) AS oov_total,
               CAST(CAST(1000000 * oov AS HUGEINT)
                    // CAST(total AS HUGEINT) AS BIGINT) AS oov_ppm
        FROM agg ORDER BY source
    """,
    doc=f"Out-of-vocabulary rate per source against the corpus-global "
    f"top-{VOCAB_K} vocabulary (count-ranked, token-lexicographic "
    "tie-break, so the vocab is deterministic): the coverage audit "
    "run before freezing a tokenizer vocab — a source with high OOV "
    "ppm is the one whose domain the vocab under-serves. Shape: ONE "
    "token-grain shuffle to (source, tok) counts, localCheckpointed "
    "(bounded by vocab x sources, NOT corpus size) so the global "
    "re-rank and the per-source rollup share it; the vocab re-agg "
    "rides small keys; the vocab membership join is a broadcast of "
    f"{VOCAB_K} rows. No second pass over the corpus.",
)
def q320(spark: SparkSession, sf: str) -> DataFrame:
    # r14: catalog.spread_scan was A/B'd here and REVERTED (+55%
    # per-round ratio median) — single-token explode into a partial
    # (source, tok) agg is too cheap for the extra exchange
    toks = table(spark, sf, "documents").select(
        "source",
        F.explode(
            F.filter(F.split(F.col("text"), " "), lambda t: t != "")
        ).alias("tok"),
    )
    st = (
        toks.groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .localCheckpoint(eager=True)
    )
    vocab = (
        st.groupBy("tok")
        .agg(F.sum("n").alias("cnt"))
        .orderBy(F.desc("cnt"), "tok")
        .limit(VOCAB_K)
        .select("tok")
    )
    joined = st.join(
        F.broadcast(vocab.withColumn("_in_v", F.lit(1))), "tok", "left"
    )
    return (
        joined.groupBy("source")
        .agg(
            F.sum("n").cast("bigint").alias("tok_total"),
            F.sum(
                F.when(F.col("_in_v").isNull(), F.col("n")).otherwise(
                    F.lit(0)
                )
            ).cast("bigint").alias("oov_total"),
        )
        .select(
            "source", "tok_total", "oov_total",
            F.expr(
                "CAST((1000000 * oov_total) DIV tok_total AS BIGINT)"
            ).alias("oov_ppm"),
        )
        .orderBy("source")
    )


@register(
    "q321_srm_check",
    oracle=f"""
        WITH u AS (
            SELECT DISTINCT event_type, user_id,
                   CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                             IN ('0','1','2','3','4','5','6','7')
                        THEN 'A' ELSE 'B' END AS arm
            FROM events
        ),
        c AS (
            SELECT event_type,
                   CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_a,
                   CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_b
            FROM u GROUP BY event_type
        )
        SELECT event_type, n_a, n_b,
               CAST(CAST(1000000 * (n_a - n_b) * (n_a - n_b) AS HUGEINT)
                    // CAST(n_a + n_b AS HUGEINT) AS BIGINT)
                   AS chi2_ppm,
               (CAST(1000000 * (n_a - n_b) * (n_a - n_b) AS HUGEINT)
                    // CAST(n_a + n_b AS HUGEINT))
                   >= {CHI2_CRIT_PPM} AS srm
        FROM c ORDER BY event_type
    """,
    doc="Sample-ratio-mismatch check: users are hash-assigned to two "
    "arms (first md5 hex nibble of user_id — the deterministic 50/50 "
    "assignment an experimentation platform uses), and per event_type "
    "the one-df chi-square statistic (n_a-n_b)^2/(n_a+n_b) is held "
    "integer-exact in ppm and compared to the 3.841459 critical "
    "value. SRM is THE experiment-integrity gate: a flagged type "
    "means exposure logging is biased and every downstream metric "
    "(q180 significance, q222 lift) is invalid. Shape: distinct on "
    "(type, user) — one shuffle — then a tiny keyed agg; assignment "
    "is scan-time md5, no join.",
)
def q321(spark: SparkSession, sf: str) -> DataFrame:
    u = (
        table(spark, sf, "events")
        .select(
            "event_type", "user_id",
            F.when(
                F.substring(
                    F.md5(F.col("user_id").cast("string")), 1, 1
                ).isin(list("01234567")),
                F.lit("A"),
            ).otherwise(F.lit("B")).alias("arm"),
        )
        .distinct()
    )
    c = u.groupBy("event_type").agg(
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0))
        .cast("bigint").alias("n_a"),
        F.sum(F.when(F.col("arm") == "B", 1).otherwise(0))
        .cast("bigint").alias("n_b"),
    )
    chi = F.expr(
        "CAST((1000000 * (n_a - n_b) * (n_a - n_b)) "
        "DIV (n_a + n_b) AS BIGINT)"
    )
    return c.select(
        "event_type", "n_a", "n_b",
        chi.alias("chi2_ppm"),
        (chi >= F.lit(CHI2_CRIT_PPM)).alias("srm"),
    ).orderBy("event_type")


@register(
    "q322_dedup_waterfall",
    oracle=f"""
        WITH n AS (
            SELECT doc_id, n_chars,
                   trim(regexp_replace(regexp_replace(
                       lower(COALESCE(text, '')),
                       '[^a-z0-9 ]', '', 'g'),
                       ' +', ' ', 'g')) AS norm
            FROM documents
        ),
        fp AS (
            SELECT doc_id, n_chars,
                   md5(norm) AS fp_e,
                   CASE WHEN length(norm) >= {WF_TRAIL}
                        THEN md5(substr(norm,
                                 length(norm) - {WF_TRAIL} + 1))
                        END AS fp_t,
                   CASE WHEN length(norm) >= {WF_PREFIX}
                        THEN md5(substr(norm, 1, {WF_PREFIX}))
                        END AS fp_p
            FROM n
        ),
        m AS (
            SELECT fp.*,
                   MIN(doc_id) OVER (PARTITION BY fp_e) AS m_e,
                   MIN(doc_id) OVER (PARTITION BY fp_t) AS m_t,
                   MIN(doc_id) OVER (PARTITION BY fp_p) AS m_p
            FROM fp
        ),
        tiered AS (
            SELECT n_chars,
                   CASE WHEN doc_id > m_e THEN '1_exact'
                        WHEN fp_t IS NOT NULL AND doc_id > m_t
                             THEN '2_trailer'
                        WHEN fp_p IS NOT NULL AND doc_id > m_p
                             THEN '3_prefix'
                        ELSE '0_unique' END AS tier
            FROM m
        ),
        t AS (SELECT COUNT(*) AS total FROM tiered)
        SELECT tier,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS chars_total,
               CAST(CAST(1000000 * COUNT(*) AS HUGEINT)
                    // CAST(t.total AS HUGEINT) AS BIGINT)
                   AS share_ppm
        FROM tiered, t GROUP BY tier, t.total ORDER BY tier
    """,
    doc="Dedup waterfall: every document is attributed to the FIRST "
    "tier that catches it — exact normalized-text duplicate, then "
    f"trailer ({WF_TRAIL}-char suffix, q308's grain), then leading-"
    f"boilerplate prefix ({WF_PREFIX} chars) — reporting docs, chars, "
    "and corpus share (integer ppm) removed per tier plus the "
    "surviving 0_unique mass. This is the tier-attribution report a "
    "dedup pipeline publishes so each stage's marginal value is "
    "measurable (a tier removing ~0 ppm is dead weight at 100 TB "
    "prices). A doc is a tier-dup iff an earlier (smaller doc_id) "
    "doc shares its fingerprint — min-per-fp-group semantics. Shape: "
    "three min-windows each keyed on an unskewable md5 fingerprint "
    "(the NULL fp_t/fp_p groups are inert: NULL never wins the CASE) "
    "+ one 4-key rollup + a broadcast totals join; no explode, no "
    "all-pairs anything.",
)
def q322(spark: SparkSession, sf: str) -> DataFrame:
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.lower(F.coalesce(F.col("text"), F.lit(""))),
                "[^a-z0-9 ]", "",
            ),
            " +", " ",
        )
    )
    # r14: catalog.spread_scan was A/B'd here and REVERTED (+17%
    # per-round ratio median) — the normalize+md5 pass is lighter than
    # it looks (one value per DOC, not per token) and the three
    # fingerprint windows re-shuffle everything right after anyway
    n = table(spark, sf, "documents").select(
        "doc_id", "n_chars", norm.alias("norm")
    )
    ln = F.length("norm")
    fp = n.select(
        "doc_id", "n_chars",
        F.md5("norm").alias("fp_e"),
        F.when(
            ln >= WF_TRAIL,
            F.md5(F.substring(F.col("norm"), -WF_TRAIL, WF_TRAIL)),
        ).alias("fp_t"),
        F.when(
            ln >= WF_PREFIX,
            F.md5(F.substring(F.col("norm"), 1, WF_PREFIX)),
        ).alias("fp_p"),
    )
    m = fp.select(
        "doc_id", "n_chars", "fp_t", "fp_p",
        F.min("doc_id").over(Window.partitionBy("fp_e")).alias("m_e"),
        F.min("doc_id").over(Window.partitionBy("fp_t")).alias("m_t"),
        F.min("doc_id").over(Window.partitionBy("fp_p")).alias("m_p"),
    )
    tiered = m.select(
        "n_chars",
        F.when(F.col("doc_id") > F.col("m_e"), F.lit("1_exact"))
        .when(
            F.col("fp_t").isNotNull()
            & (F.col("doc_id") > F.col("m_t")),
            F.lit("2_trailer"),
        )
        .when(
            F.col("fp_p").isNotNull()
            & (F.col("doc_id") > F.col("m_p")),
            F.lit("3_prefix"),
        )
        .otherwise(F.lit("0_unique")).alias("tier"),
    )
    # r14 optimization (guide §1.2/§2.4): the doc total equals
    # SUM(n_docs) over the <=4-row tier aggregate, so derive it there
    # with an unpartitioned window over that tiny frame — the separate
    # count branch re-ran the whole normalize + 3-fingerprint-window
    # lineage (2 documents scans, 6 windows in the plan).
    return (
        tiered.groupBy("tier")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("chars_total"),
        )
        .withColumn(
            "total",
            F.sum("n_docs").over(
                Window.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
        .select(
            "tier", "n_docs", "chars_total",
            F.expr("CAST((1000000 * n_docs) DIV total AS BIGINT)")
            .alias("share_ppm"),
        )
        .orderBy("tier")
    )


@register(
    "q323_generalization_ladder",
    oracle=f"""
        WITH l0 AS (
            SELECT CAST(0 AS BIGINT) AS level,
                   CAST(COUNT(*) AS BIGINT) AS n_classes,
                   CAST(MIN(n) AS BIGINT) AS min_class
            FROM (SELECT COUNT(*) AS n FROM orders
                  GROUP BY o_orderdate, o_orderpriority)
        ),
        l1 AS (
            SELECT CAST(1 AS BIGINT), CAST(COUNT(*) AS BIGINT),
                   CAST(MIN(n) AS BIGINT)
            FROM (SELECT COUNT(*) AS n FROM orders
                  GROUP BY year(o_orderdate), month(o_orderdate),
                           o_orderpriority)
        ),
        l2 AS (
            SELECT CAST(2 AS BIGINT), CAST(COUNT(*) AS BIGINT),
                   CAST(MIN(n) AS BIGINT)
            FROM (SELECT COUNT(*) AS n FROM orders
                  GROUP BY year(o_orderdate), quarter(o_orderdate),
                           o_orderpriority)
        ),
        l3 AS (
            SELECT CAST(3 AS BIGINT), CAST(COUNT(*) AS BIGINT),
                   CAST(MIN(n) AS BIGINT)
            FROM (SELECT COUNT(*) AS n FROM orders
                  GROUP BY year(o_orderdate), o_orderpriority)
        ),
        u AS (
            SELECT * FROM l0 UNION ALL SELECT * FROM l1
            UNION ALL SELECT * FROM l2 UNION ALL SELECT * FROM l3
        )
        SELECT level, n_classes, min_class,
               min_class >= {LADDER_K} AS achieves_k
        FROM u ORDER BY level
    """,
    doc="k-anonymity generalization ladder: the (release-date, "
    "priority) quasi-identifier is generalized day -> month -> "
    "quarter -> year, and each level reports its equivalence-class "
    f"count, minimum class size, and whether k={LADDER_K} is met — "
    "the search a privacy reviewer runs to pick the MINIMAL "
    "generalization that satisfies k (q261 audits one fixed "
    "granularity; the ladder prices the utility cost of each step). "
    "Shape: four independent class-grain aggs (each one shuffle on "
    "progressively coarser keys) reduced to single rows and "
    "unioned — output is 4 rows regardless of scale; at 100 TB the "
    "coarser levels can be derived from the day-grain rollup "
    "(partial re-agg) rather than rescanning, which AQE's exchange "
    "reuse already approximates here.",
)
def q323(spark: SparkSession, sf: str) -> DataFrame:
    o = table(spark, sf, "orders")
    d = F.col("o_orderdate")
    levels = [
        (0, [d, F.col("o_orderpriority")]),
        (1, [F.year(d), F.month(d), F.col("o_orderpriority")]),
        (2, [F.year(d), F.quarter(d), F.col("o_orderpriority")]),
        (3, [F.year(d), F.col("o_orderpriority")]),
    ]
    parts = []
    for lvl, keys in levels:
        classes = o.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("n")
        )
        parts.append(
            classes.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_classes"),
                F.min("n").cast("bigint").alias("min_class"),
            ).select(
                F.lit(lvl).cast("bigint").alias("level"),
                "n_classes",
                "min_class",
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return u.select(
        "level", "n_classes", "min_class",
        (F.col("min_class") >= LADDER_K).alias("achieves_k"),
    ).orderBy("level")
