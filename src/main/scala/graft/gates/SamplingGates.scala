package graft
package gates

import graft.Queries._
import graft.ext.{Eval, Privacy, Sampling, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Deterministic sampling, evaluation metrics, profiling, privacy
 * screens and data validation (`sampling_*`, `eval_*`, `profile_*`,
 * `privacy_*`, `validate_orders`, `pack_token_budget`).
 */
object SamplingGates {

  /** NB predictions (the `text_nb_classify` operator — certified there,
    * fresh there) shared as INPUT by `eval_nb_report`, whose own operator
    * is the classification report. */
  private val nbPredsFixture =
    Fixture.frame("nbpreds", "graft-fix-nb") { (s, d) =>
      val dd = docs(s, d)
      TextAnalysis.nbClassify(dd.filter(col("doc_id") % 2 === 0),
        dd.filter(col("doc_id") % 2 === 1))
    }

  /** langId predictions (the `text_langid` operator — certified there,
    * fresh there) shared as INPUT by `eval_langid_kappa`, whose own
    * operator is Cohen's kappa. */
  private val langIdPredsFixture =
    Fixture.frame("langid", "graft-fix-lid")((s, d) => TextAnalysis.langId(docs(s, d)))

  /** `sampling_cluster_balanced` oracle: the k-means rounds plus the
    * stratified per-cluster top-`n` in the engine's `(idHash, id)` order. */
  private def kmeansBalancedSql(k: Int, iters: Int, scale: Int, n: Int): String = {
    val (ctes, af) = kmeansCtes(k, iters, scale)
    s"""$ctes
       |SELECT vec_id, cluster FROM (
       |  SELECT vec_id, CAST(c AS BIGINT) AS cluster,
       |         row_number() OVER (PARTITION BY c
       |           ORDER BY ${duckIdHash("vec_id")}, vec_id) AS rn
       |  FROM $af) x WHERE rn <= $n""".stripMargin
  }

  val gates: Seq[Gate] = Seq(
    // the SKETCH profile's error bounds gated at the driver: approximate
    // output has no bit-stable cross-engine form, but its theoretical
    // bounds do — emit every bound VIOLATION (HLL distinct estimate off by
    // > 5×rsd; approx p50/p99 outside a generous exact-percentile
    // envelope, rank error ≤ n/accuracy = 1 row here) and require the
    // result to be EMPTY, which a WHERE FALSE oracle checks exactly.
    Gate("profile_sketch_bounds", ((s, d) => {
      val ev = events(s, d)
      val approx = ext.Profiling.approxProfile(ev, Seq("user_id", "event_type"), Seq("value"))
      val exact = ext.Profiling.profile(ev, Seq("user_id", "event_type"))
      val env = ev.agg(
        expr("percentile(value, 0.45)").cast("double").as("p45"),
        expr("percentile(value, 0.55)").cast("double").as("p55"),
        expr("percentile(value, 0.97)").cast("double").as("p97"),
        expr("percentile(value, 0.999)").cast("double").as("p999")).head()
      val distinctViolations = approx.filter(col("approx_distinct").isNotNull)
        .join(exact.select(col("col_name"), col("n_distinct")), "col_name")
        .filter(abs(col("approx_distinct") - col("n_distinct")).cast("double")
          > lit(0.10) * col("n_distinct")) // 5 × rsd(0.02)
        .select(col("col_name"), lit("approx_distinct").as("metric"),
          col("approx_distinct").cast("double").as("value"))
      val pViolations = approx.filter(col("approx_p50").isNotNull)
        .filter(!col("approx_p50").between(env.getDouble(0), env.getDouble(1)) ||
          !col("approx_p99").between(env.getDouble(2), env.getDouble(3)))
        .select(col("col_name"), lit("approx_percentile").as("metric"),
          col("approx_p50").as("value"))
      distinctViolations.unionByName(pViolations)
    }),
      // the bound-violation set must be EMPTY — schema-matched zero rows
      """SELECT CAST(NULL AS VARCHAR) AS col_name, CAST(NULL AS VARCHAR) AS metric,
        |       CAST(NULL AS DOUBLE) AS value
        |  FROM events WHERE FALSE""".stripMargin),
    // declarative data-quality report over the copied fact table — the QA
    // gate the reference gets from SQL Server constraints and a parquet
    // lake needs explicitly. Row-local checks fuse into ONE scan; unique
    // and referential checks are one keyed pass each. Mixed pass/fail
    // counts on the fixtures keep the gate honest (not all-zeros).
    Gate("validate_orders", ((s, d) => {
      import graft.ext.Validate
      Validate.report(orders(s, d), Seq(
        Validate.NotNull("o_custkey"),
        Validate.AcceptedValues("o_orderstatus", Seq("O", "F")),
        Validate.InRange("o_totalprice", Some(0.0), Some(150000.0)),
        Validate.Predicate("o_orderkey", "positive_key", col("o_orderkey") > 0),
        Validate.Unique(Seq("o_orderkey")),
        Validate.RefIntegrity("o_custkey", customer(s, d), "c_custkey")))
    }),
      """SELECT 'not_null' AS "check", 'o_custkey' AS "column",
        |       (SELECT count(*) FROM orders WHERE o_custkey IS NULL) AS n_violations
        |UNION ALL
        |SELECT 'accepted_values', 'o_orderstatus',
        |       (SELECT count(*) FROM orders
        |         WHERE o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('O', 'F'))
        |UNION ALL
        |SELECT 'in_range', 'o_totalprice',
        |       (SELECT count(*) FROM orders
        |         WHERE o_totalprice IS NOT NULL
        |           AND (CAST(o_totalprice AS DOUBLE) < 0 OR CAST(o_totalprice AS DOUBLE) > 150000))
        |UNION ALL
        |SELECT 'predicate:positive_key', 'o_orderkey',
        |       (SELECT count(*) FROM orders WHERE NOT COALESCE(o_orderkey > 0, FALSE))
        |UNION ALL
        |SELECT 'unique', 'o_orderkey',
        |       -- DuckDB sum(BIGINT) widens to DECIMAL(38,0); the engine reports BIGINT
        |       (SELECT CAST(COALESCE(sum(n - 1), 0) AS BIGINT) FROM (
        |          SELECT count(*) AS n FROM orders WHERE o_orderkey IS NOT NULL
        |           GROUP BY o_orderkey HAVING count(*) > 1) t)
        |UNION ALL
        |SELECT 'ref_integrity', 'o_custkey',
        |       (SELECT count(*) FROM orders
        |         WHERE o_custkey IS NOT NULL
        |           AND o_custkey NOT IN (SELECT c_custkey FROM customer))""".stripMargin),
    // dataset profiling: one aggregation pass, long-format per-column stats
    Gate("profile_events", ((s, d) =>
      ext.Profiling.profile(events(s, d),
        Seq("event_id", "user_id", "event_type", "value", "props"))),
      """SELECT 'event_id' AS col_name, count(*) AS n_rows, count(*) - count(event_id) AS n_nulls, count(DISTINCT event_id) AS n_distinct FROM events
        |UNION ALL SELECT 'user_id', count(*), count(*) - count(user_id), count(DISTINCT user_id) FROM events
        |UNION ALL SELECT 'event_type', count(*), count(*) - count(event_type), count(DISTINCT event_type) FROM events
        |UNION ALL SELECT 'value', count(*), count(*) - count(value), count(DISTINCT value) FROM events
        |UNION ALL SELECT 'props', count(*), count(*) - count(props), count(DISTINCT props) FROM events""".stripMargin),
    // robust per-group outlier screen: modified z-score (median/MAD,
    // Iglewicz–Hoaglin k=3.5) — immune to the masking that mean/stddev
    // z-scores suffer on the value column's heavy right tail
    Gate("profile_outliers_mad", ((s, d) =>
      ext.Profiling.madOutliers(events(s, d), Seq("event_type"), "value",
          carryCols = Seq("event_id"), k = 3.5)
        .select(col("event_type"), col("event_id"), col("value"),
          round(col("robust_z"), 6).as("robust_z"))),
      // same interpolated-median parity as agg_value_percentiles
      // (quantile_cont ≡ Spark percentile); the arithmetic is spelled in the
      // operator's exact order — (0.6745·(x−med))/mad — and mad=0 groups drop
      """WITH m AS (SELECT event_type, quantile_cont(value, 0.5) AS med
        |             FROM events GROUP BY 1),
        |d AS (SELECT e.event_type, e.event_id, e.value, m.med,
        |             abs(e.value - m.med) AS dev
        |        FROM events e JOIN m USING (event_type)),
        |s AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad
        |        FROM d GROUP BY 1)
        |SELECT d.event_type, d.event_id, d.value,
        |       round(0.6745 * (d.value - d.med) / s.mad, 6) AS robust_z
        |  FROM d JOIN s USING (event_type)
        | WHERE s.mad > 0 AND abs(0.6745 * (d.value - d.med) / s.mad) > 3.5""".stripMargin),
    // equi-width value histogram: scalar min/max pass, then one grouped
    // count on the computed bin — at most `bins` partials per partition
    Gate("profile_histogram", ((s, d) =>
      ext.Profiling.histogram(events(s, d), "value", bins = 20)),
      // the CASE mirrors the operator's constant-column fallback (w = 1.0
      // when hi == lo) — without it DuckDB's 0/0 → NULL and LEAST(19, NULL)
      // would misfile a constant column into bin 19
      """WITH mm AS (SELECT min(CAST(value AS DOUBLE)) AS lo,
        |                   max(CAST(value AS DOUBLE)) AS hi FROM events),
        |mw AS (SELECT lo, hi,
        |              CASE WHEN hi > lo THEN (hi - lo) / 20 ELSE 1.0 END AS w FROM mm),
        |b AS (SELECT LEAST(19, CAST(floor((CAST(value AS DOUBLE) - mw.lo) / mw.w) AS INT)) AS bin
        |        FROM events, mw WHERE value IS NOT NULL),
        |c AS (SELECT bin, count(*) AS n FROM b GROUP BY bin)
        |SELECT c.bin, mw.lo + c.bin * mw.w AS bin_lo,
        |       mw.lo + (c.bin + 1) * mw.w AS bin_hi, c.n
        |  FROM c, mw""".stripMargin),
    // PSI distribution drift between two snapshot halves (event_id parity):
    // reference-derived equi-width bins, edge-clamped, Laplace-smoothed
    // shares; rounded at 6 (ln/division ulps differ across libms)
    Gate("profile_psi_drift", ((s, d) => {
      val ev = events(s, d)
      ext.Profiling.psiDrift(ev.filter(col("event_id") % 2 === 0),
          ev.filter(col("event_id") % 2 === 1), "value", bins = 10)
        .select(col("bin"), round(col("p_ref"), 6).as("p_ref"),
          round(col("p_cur"), 6).as("p_cur"),
          round(col("psi_contrib"), 6).as("psi_contrib"))
    }),
      """WITH r AS (SELECT CAST(value AS DOUBLE) AS v FROM events
        |            WHERE event_id % 2 = 0 AND value IS NOT NULL AND isfinite(CAST(value AS DOUBLE))),
        |c AS (SELECT CAST(value AS DOUBLE) AS v FROM events
        |       WHERE event_id % 2 = 1 AND value IS NOT NULL AND isfinite(CAST(value AS DOUBLE))),
        |mm AS (SELECT min(v) AS lo, max(v) AS hi FROM r),
        |mw AS (SELECT lo, CASE WHEN hi > lo THEN (hi - lo) / 10 ELSE 1.0 END AS w FROM mm),
        |rb AS (SELECT GREATEST(0, LEAST(9, CAST(floor((v - mw.lo) / mw.w) AS INT))) AS bin
        |         FROM r, mw),
        |cb AS (SELECT GREATEST(0, LEAST(9, CAST(floor((v - mw.lo) / mw.w) AS INT))) AS bin
        |         FROM c, mw),
        |rc AS (SELECT bin, count(*) AS cr FROM rb GROUP BY bin),
        |ccn AS (SELECT bin, count(*) AS ccnt FROM cb GROUP BY bin),
        |tot AS (SELECT (SELECT count(*) FROM r) AS nr, (SELECT count(*) FROM c) AS nc),
        |s AS (SELECT CAST(b.range AS INT) AS bin,
        |             (coalesce(rc.cr, 0) + 0.5) / (tot.nr + 0.5 * 10) AS p,
        |             (coalesce(ccn.ccnt, 0) + 0.5) / (tot.nc + 0.5 * 10) AS q
        |        FROM range(10) b
        |        LEFT JOIN rc ON rc.bin = b.range
        |        LEFT JOIN ccn ON ccn.bin = b.range, tot)
        |SELECT bin, round(p, 6) AS p_ref, round(q, 6) AS p_cur,
        |       round((p - q) * ln(p / q), 6) AS psi_contrib
        |  FROM s""".stripMargin),
    // count–min sketch probe: exact top-30 tokens vs their sketch
    // estimates — the mergeable constant-memory frequency sketch (cell-wise
    // sum IS the merge, d×w rows at any corpus size); buckets keyed by the
    // portable idHash so both engines address the same cells
    Gate("profile_cms_heavy_hitters", ((s, d) =>
      ext.Profiling.cmsHeavyHitters(docs(s, d), "text")),
      // identical edges/clamp/smoothing/contribution arithmetic; the spine
      // (range(10)) makes empty bins present on both engines
      // CMS re-derived: ONE portable hash per term, the same affine
      // per-row bucket derivation ((h·(2i+1)+i) mod w) on both the sketch
      // build and the probe side, min over the depth rows
      cmsProbeSql),
    // one-row corpus data card: counts/cardinalities/mass/dup rate, every
    // number an exact integer or exact integer division — no rounding
    Gate("profile_corpus_card", ((s, d) =>
      ext.Profiling.corpusCard(docs(s, d))),
      // identical counts/cardinalities/divisions; the fingerprint is the
      // repo-wide contentFingerprint formula (the dedup_fingerprint mirror)
      """WITH s AS (SELECT text,
        |       CASE WHEN text IS NOT NULL
        |            THEN len(regexp_split_to_array(text, '\s+')) END AS nt,
        |       lang, source,
        |       md5(array_to_string(list_sort(list_distinct(
        |         regexp_split_to_array(text, '\s+'))), ' ')) AS fp
        |  FROM documents),
        |a AS (SELECT count(*) AS n_docs,
        |             count(*) - count(text) AS n_null_text,
        |             count(DISTINCT lang) AS n_langs,
        |             count(DISTINCT source) AS n_sources,
        |             CAST(sum(nt) AS BIGINT) AS total_tokens,
        |             CAST(sum(length(text)) AS BIGINT) AS total_chars,
        |             CAST(sum(CASE WHEN nt < 30 THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
        |             count(DISTINCT fp) AS n_distinct_fingerprints
        |        FROM s)
        |SELECT *,
        |       CAST(total_tokens AS DOUBLE)
        |         / CAST(n_docs - n_null_text AS DOUBLE) AS mean_tokens,
        |       CAST(n_short AS DOUBLE)
        |         / CAST(n_docs - n_null_text AS DOUBLE) AS short_frac,
        |       CAST(n_docs - n_null_text - n_distinct_fingerprints AS DOUBLE)
        |         / CAST(n_docs - n_null_text AS DOUBLE) AS dup_frac
        |  FROM a""".stripMargin),
    // Zipf's-law fit over the top-100 token frequencies: OLS of ln(freq)
    // on ln(rank) as EXPLICIT sums (n·Σxy−Σx·Σy over n·Σx²−(Σx)²) so both
    // engines run the same arithmetic shape; ranks/counts are exact ints,
    // stats rounded at 6 (the ln/sum-order contract)
    Gate("profile_zipf_fit", ((s, d) =>
      ext.Profiling.zipfFit(docs(s, d), "text")),
      // identical explicit-sums OLS over the same (ln rank, ln count) points:
      // row_number() with the (count DESC, token ASC) total order ≡ the
      // Spark side's globalOrdinals numbering; ln of exact integers on both
      // engines, derived stats rounded at 6
      """WITH cnt AS (SELECT w, count(*) AS c FROM (
        |         SELECT unnest(regexp_split_to_array(text, '\s+')) AS w
        |           FROM documents) t GROUP BY w),
        |top AS (SELECT w, c FROM cnt ORDER BY c DESC, w LIMIT 100),
        |xy AS (SELECT ln(CAST(r AS DOUBLE)) AS x, ln(CAST(c AS DOUBLE)) AS y
        |         FROM (SELECT c, row_number() OVER (ORDER BY c DESC, w) AS r
        |                 FROM top) rr),
        |s AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |             sum(x*y) AS sxy, sum(x*x) AS sxx, sum(y*y) AS syy
        |        FROM xy)
        |SELECT n AS n_ranks,
        |       round((CAST(n AS DOUBLE)*sxy - sx*sy)
        |             / (CAST(n AS DOUBLE)*sxx - sx*sx), 6) AS zipf_slope,
        |       round((sy - ((CAST(n AS DOUBLE)*sxy - sx*sy)
        |                    / (CAST(n AS DOUBLE)*sxx - sx*sx)) * sx)
        |             / CAST(n AS DOUBLE), 6) AS zipf_intercept,
        |       round(((CAST(n AS DOUBLE)*sxy - sx*sy)
        |              * (CAST(n AS DOUBLE)*sxy - sx*sy))
        |             / ((CAST(n AS DOUBLE)*sxx - sx*sx)
        |                * (CAST(n AS DOUBLE)*syy - sy*sy)), 6) AS zipf_r2
        |  FROM s""".stripMargin),
    // training-sequence packing: deterministic hash shuffle → shard →
    // prefix-sum token bins (the concat-then-chunk pre-training shape)
    Gate("pack_token_budget", ((s, d) => {
      val toks = TextAnalysis.tokenStats(docs(s, d)).select("doc_id", "n_tokens")
      graft.ext.Packing.packTokenBudget(toks, "doc_id", "n_tokens", budget = 512, nShards = 8)
    }),
      s"""WITH toks AS (
         |  SELECT doc_id, CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_tokens,
         |         ${duckIdHash("doc_id")} AS hh
         |    FROM documents
         |   WHERE len(regexp_split_to_array(text, '\\s+')) >= 0),
         |w AS (SELECT doc_id, CAST(hh % 8 AS INT) AS shard, n_tokens, hh,
         |             sum(n_tokens) OVER (PARTITION BY hh % 8 ORDER BY hh, doc_id
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS cum_before
         |        FROM toks)
         |SELECT doc_id, shard, n_tokens, CAST(cum_before // 512 AS BIGINT) AS pack_id FROM w""".stripMargin),
    // ---- deterministic sampling (§2.12) ----
    Gate("sampling_hash_fraction", ((s, d) => Sampling.hashFraction(docs(s, d), "doc_id", 200)),
      s"SELECT * FROM documents WHERE ${duckIdHash("doc_id")} % 1000 < 200"),
    Gate("sampling_stratified", ((s, d) => Sampling.stratified(docs(s, d), "lang", "doc_id", 20)),
      s"""SELECT doc_id, text, lang, source, n_chars FROM (
         |  SELECT *, row_number() OVER (PARTITION BY lang
         |             ORDER BY ${duckIdHash("doc_id")}, doc_id) AS rn
         |    FROM documents) x WHERE rn <= 20""".stripMargin),
    // quality-proportional keep: weight = n_chars/2000 (clamped at 1 inside
    // the operator — long docs always kept, short docs kept hash-fractionally)
    Gate("sampling_weighted", ((s, d) =>
      Sampling.weightedFraction(
        docs(s, d).withColumn("w", col("n_chars") / lit(2000.0)), "doc_id", "w")),
      s"""SELECT doc_id, text, lang, source, n_chars, CAST(n_chars AS DOUBLE) / 2000.0 AS w
         |  FROM documents
         | WHERE CAST(${duckIdHash("doc_id")} % 1000000 AS DOUBLE)
         |       < least(greatest(CAST(n_chars AS DOUBLE) / 2000.0, 0), 1) * 1000000""".stripMargin),
    // domain mixing: fixed per-language quotas; es/zh have no quota → dropped
    Gate("sampling_stratified_quotas", ((s, d) =>
      Sampling.stratifiedQuotas(docs(s, d), "lang", "doc_id",
        Map("en" -> 30, "de" -> 10, "fr" -> 5))),
      s"""SELECT doc_id, text, lang, source, n_chars FROM (
         |  SELECT d.*, q.quota, row_number() OVER (PARTITION BY d.lang
         |             ORDER BY ${duckIdHash("doc_id")}, doc_id) AS rn
         |    FROM documents d
         |    JOIN (VALUES ('en', 30), ('de', 10), ('fr', 5)) q(lang, quota)
         |      ON d.lang = q.lang) x
         | WHERE rn <= quota""".stripMargin),
    // fill a 60k-char budget from docs in deterministic hash order — the
    // corpus-assembly primitive (bucket-prefix plan, no global-order window)
    Gate("sampling_budget_select", ((s, d) =>
      Sampling.budgetSelect(docs(s, d), "doc_id", "n_chars", 60000L)),
      s"""SELECT doc_id, text, lang, source, n_chars FROM (
         |  SELECT *, sum(n_chars) OVER (ORDER BY ${duckIdHash("doc_id")}, doc_id
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |    FROM documents) x
         | WHERE cum <= 60000""".stripMargin),
    // data-constrained mixing (Muennighoff et al. 2023): repeat each domain
    // to its char budget — whole epochs for every doc, then a deterministic
    // budget-walk partial epoch; es/zh have no budget → dropped. en exceeds
    // its corpus many-fold (multi-epoch), de/fr exercise the other regimes.
    Gate("sampling_repeat_to_budget", ((s, d) =>
      Sampling.repeatToBudget(docs(s, d), "lang", "doc_id", "n_chars",
        Map("en" -> 1500000L, "de" -> 150000L, "fr" -> 10000L))
        .select(col("doc_id"), col("lang"), col("epoch"))),
      // whole epochs via integer div/mod on exact long totals; the partial
      // epoch is the budget-select walk per domain at epoch = nfull
      s"""WITH b(lang, budget) AS (VALUES ('en', 1500000), ('de', 150000), ('fr', 10000)),
         |tot AS (SELECT lang, sum(CAST(n_chars AS BIGINT)) AS total
         |          FROM documents GROUP BY lang),
         |e AS (SELECT b.lang, CAST(CAST(b.budget AS BIGINT) // t.total AS BIGINT) AS nfull,
         |             CAST(CAST(b.budget AS BIGINT) % t.total AS BIGINT) AS leftover
         |        FROM b JOIN tot t ON b.lang = t.lang WHERE t.total > 0)
         |SELECT d.doc_id, d.lang, CAST(u.ep AS BIGINT) AS epoch
         |  FROM documents d JOIN e ON d.lang = e.lang, unnest(range(e.nfull)) AS u(ep)
         |UNION ALL
         |SELECT doc_id, lang, CAST(nfull AS BIGINT) AS epoch FROM (
         |  SELECT d.doc_id, d.lang, e.nfull, e.leftover,
         |         sum(CAST(d.n_chars AS BIGINT)) OVER (PARTITION BY d.lang
         |           ORDER BY ${duckIdHash("doc_id")}, doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |    FROM documents d JOIN e ON d.lang = e.lang) x
         | WHERE cum <= leftover""".stripMargin),
    // temperature-flattened language mixing (α = 0.5 → sqrt weights, the
    // IEEE-correctly-rounded point, so the oracle derives identical rates)
    Gate("sampling_temperature", ((s, d) =>
      Sampling.temperatureSample(docs(s, d), "lang", "doc_id", alpha = 0.5, budget = 150L)),
      s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
         |sm AS (SELECT sum(sqrt(CAST(n AS DOUBLE))) AS sw FROM c),
         |r AS (SELECT lang, least(CAST(1.0 AS DOUBLE),
         |               (150.0 * sqrt(CAST(n AS DOUBLE))) / (sw * CAST(n AS DOUBLE))) AS rate
         |        FROM c, sm)
         |SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
         |  FROM documents d JOIN r USING (lang)
         | WHERE CAST(${duckIdHash("doc_id")} % 1000000 AS DOUBLE) < rate * 1000000""".stripMargin),
    // per-language winsorization of n_chars to the [0.05, 0.95] quantile
    // band: rows kept, leverage capped; thresholds are one per-group
    // percentile agg broadcast back, the clamp a pure projection
    Gate("sampling_winsorize", ((s, d) =>
      Sampling.winsorize(docs(s, d), "lang", "n_chars", loQ = 0.05, hiQ = 0.95)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("winsorized"), col("winsorized_clipped"))),
      // same per-group quantile_cont thresholds, same clamp and clipped flag
      // (the raw comparison, not the rounded value); NULL values pass through
      """WITH thr AS (SELECT lang, quantile_cont(n_chars, 0.05) AS lo,
        |                    quantile_cont(n_chars, 0.95) AS hi
        |               FROM documents WHERE n_chars IS NOT NULL GROUP BY lang)
        |SELECT doc_id, d.lang, n_chars,
        |       CASE WHEN n_chars IS NOT NULL
        |            THEN round(least(greatest(CAST(n_chars AS DOUBLE), lo), hi), 6)
        |       END AS winsorized,
        |       CASE WHEN n_chars IS NOT NULL
        |            THEN CAST(n_chars AS DOUBLE) < lo OR CAST(n_chars AS DOUBLE) > hi
        |            ELSE FALSE END AS winsorized_clipped
        |  FROM documents d JOIN thr ON d.lang = thr.lang""".stripMargin),
    // UniMax budget waterfall (Chung et al. 2023): budget 700 docs, 2-epoch
    // cap — at the sf0.01 distribution the two smallest languages take full
    // capacity and the rest sit at the common waterline, so both branches
    // of the closed form are exercised and hash-gated
    Gate("sampling_unimax", ((s, d) =>
      Sampling.unimaxAllocation(docs(s, d), "lang", budget = 700.0,
        maxEpochs = 2.0)),
      // identical waterfall closed form: ascending-capacity rank + running
      // sum, the prefix `fits` predicate, whole-frame (k*, P_k*) sums, and
      // the same CASE allocation — capacities are integral doubles at
      // maxEpochs 2.0, so the comparison is exact on both engines
      """WITH cnt AS (SELECT lang, count(*) AS n_docs FROM documents
        |              WHERE lang IS NOT NULL GROUP BY lang),
        |st AS (SELECT lang, n_docs, CAST(n_docs AS DOUBLE) * 2.0 AS cap
        |         FROM cnt),
        |wn AS (SELECT lang, n_docs, cap,
        |              row_number() OVER (ORDER BY cap, lang) AS r,
        |              sum(cap) OVER (ORDER BY cap, lang) AS p,
        |              count(*) OVER () AS l
        |         FROM st),
        |ft AS (SELECT *, cap * (l - r) <= 700.0 - p AS fits FROM wn),
        |ks AS (SELECT *,
        |              sum(CASE WHEN fits THEN 1 ELSE 0 END) OVER () AS k,
        |              sum(CASE WHEN fits THEN cap ELSE 0.0 END) OVER () AS pk
        |         FROM ft)
        |SELECT lang, n_docs, round(cap, 6) AS capacity,
        |       round(CASE WHEN fits THEN cap
        |                  ELSE (700.0 - pk) / CAST(l - k AS DOUBLE) END, 6)
        |         AS alloc_docs,
        |       round(CASE WHEN fits THEN cap
        |                  ELSE (700.0 - pk) / CAST(l - k AS DOUBLE) END
        |             / CAST(n_docs AS DOUBLE), 6) AS epochs
        |  FROM ks""".stripMargin),
    // the pre-training corpus shuffle: one deterministic hash permutation,
    // strided over 8 shards — same shard/pos on any engine or partitioning
    Gate("sampling_shuffle_shards", ((s, d) =>
      Sampling.shuffleToShards(docs(s, d).select("doc_id"), "doc_id", 8)),
      // the seeded hash is idHash("<id>:<seed>") — spelled as the same md5
      // construction with the ':0' literal concatenated before hashing
      s"""SELECT doc_id, (rn - 1) % 8 AS shard, (rn - 1) // 8 AS pos_in_shard
         |  FROM (SELECT doc_id, row_number() OVER (ORDER BY
         |          CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':0'), 1, 15) AS BIGINT),
         |          doc_id) AS rn
         |          FROM documents) x""".stripMargin),
    // exactly-100 weighted sample (Efraimidis-Spirakis keys over the
    // portable id hash), length-proportional odds under a firm budget
    Gate("sampling_weighted_k", ((s, d) =>
      Sampling.weightedSampleK(docs(s, d), "doc_id", "n_chars", 100)
        .select("doc_id", "lang", "n_chars")),
      // ES keys re-derived: hash-uniform u strictly inside (0,1), ln(u)/w,
      // rounded-key ranking with id tiebreak for an engine-independent cutoff
      s"""SELECT doc_id, lang, n_chars FROM (
         |  SELECT doc_id, lang, n_chars,
         |         round(ln((CAST(${duckIdHash("doc_id")} % 1000000 AS DOUBLE) + 0.5)
         |                  / 1000000.0) / CAST(n_chars AS DOUBLE), 9) AS k
         |    FROM documents
         |   WHERE doc_id IS NOT NULL AND CAST(n_chars AS DOUBLE) > 0
         |     AND NOT isnan(CAST(n_chars AS DOUBLE))) x
         | ORDER BY k DESC, doc_id LIMIT 100""".stripMargin),
    // equal-frequency discretization: order-price deciles; thresholds are
    // exact interpolated percentiles (≡ quantile_cont) and on-threshold
    // values fall LOWER — boundary-safe here because 2-decimal price gaps
    // (≥ 0.01) dwarf interpolation ulps
    Gate("sampling_quantile_bins", ((s, d) =>
      Sampling.quantileBins(orders(s, d), "o_totalprice", 10)
        .select("o_orderkey", "bin")),
      // α = 0.5 temperature mixing: sqrt is IEEE-correctly-rounded, so both
      // engines derive bit-identical per-language rates; the arithmetic shape
      // (budget·w)/(sw·n) mirrors the Spark expression exactly
      // decile thresholds via quantile_cont ≡ Spark percentile; strictly-
      // below counting reproduces the ties-fall-lower contract
      """WITH t AS (SELECT quantile_cont(o_totalprice,
        |                    [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS th
        |             FROM orders)
        |SELECT o_orderkey,
        |       CASE WHEN o_totalprice IS NULL THEN NULL
        |            ELSE 1 + len(list_filter(t.th, x -> o_totalprice > x)) END AS bin
        |  FROM orders, t""".stripMargin),
    // cross-domain score calibration (quantile normalization): per-language
    // percent rank re-mapped onto the GLOBAL length distribution — the
    // "make scores comparable across sources" step before mixing; percent
    // rank via distinct-value cumsum (no per-group row sort), grid as one
    // broadcast aggregation row
    Gate("sampling_quantile_normalize", ((s, d) =>
      Sampling.quantileNormalize(docs(s, d), "lang", "n_chars", gridK = 100)
        .select("doc_id", "lang", "n_chars", "calibrated")),
      // quantile normalization re-derived: percent_rank within language
      // (ties share the min rank — DuckDB's window semantics ≡ the engine's
      // distinct-value cumsum), global grid via quantile_cont ≡ Spark
      // percentile, both rounds half-away-from-zero in both engines
      s"""WITH b AS (SELECT doc_id, lang, n_chars FROM documents
         |            WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
         |g AS (SELECT quantile_cont(CAST(n_chars AS DOUBLE),
         |               [${(0 to 100).map(i => i / 100.0).mkString(",")}]) AS grid
         |        FROM b),
         |pr AS (SELECT doc_id, lang, n_chars,
         |              percent_rank() OVER (PARTITION BY lang ORDER BY n_chars) AS pr
         |         FROM b)
         |SELECT pr.doc_id, pr.lang, pr.n_chars,
         |       round(g.grid[CAST(round(pr.pr * 100) AS INT) + 1], 6) AS calibrated
         |  FROM pr, g""".stripMargin),
    // deterministic contrastive negatives: 3 hash-drawn partners per doc,
    // partner ordinal = idHash("id:j") mod n — reproducible on any engine,
    // self-collisions dropped
    Gate("sampling_negative_pairs", ((s, d) =>
      Sampling.negativePairs(docs(s, d).select("doc_id"), "doc_id", 3)),
      // same ordinal + 60-bit-hash-mod-n arithmetic, self-collisions dropped
      s"""WITH o AS (SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS ord
         |             FROM documents),
         |n AS (SELECT count(*) AS n FROM documents),
         |a AS (SELECT o.doc_id AS anchor_id, o.ord AS aord, js.j,
         |             CAST('0x' || substr(md5(CAST(o.doc_id AS VARCHAR) || ':' ||
         |                  CAST(js.j AS VARCHAR)), 1, 15) AS BIGINT) % n.n AS pord
         |        FROM o, n, (SELECT unnest(range(0, 3)) AS j) js)
         |SELECT a.anchor_id, a.j, p.doc_id AS negative_id
         |  FROM a JOIN o p ON a.pord = p.ord
         | WHERE a.pord <> a.aord""".stripMargin),
    // leakage-safe splits: near-dup cluster members must land in ONE split
    // (the split boundary can only fall between clusters)
    Gate("sampling_split_cluster_safe", ((s, d) => {
      val doc = docs(s, d)
      // shared near-dup clusters fixture (see pipeline_corpus_select_fuzzy)
      val clusters = jaccardClustersFixture(s, d)
      Sampling.assignSplitsClusterSafe(doc, clusters, "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "split")
    }),
      // cluster-safe splits: split key = cluster label (min member id) for
      // clustered docs, own id for singletons; cumulative-ppm thresholds on
      // the portable id hash — 0.8/0.1/0.1 → 800000/900000
      s"""$clusterCtes,
         |cl AS (SELECT node, min(label) AS cluster_id FROM reach GROUP BY node),
         |k AS (SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS key
         |        FROM documents d LEFT JOIN cl ON d.doc_id = cl.node),
         |h AS (SELECT doc_id, ${duckIdHash("key")} % 1000000 AS b FROM k)
         |SELECT doc_id, CASE WHEN b < 800000 THEN 'train'
         |                    WHEN b < 900000 THEN 'val'
         |                    ELSE 'test' END AS split
         |  FROM h""".stripMargin,
      fixtures = Seq(jaccardClustersFixture)),
    // per-group quantile gate: keep docs at or above their language's median
    // length — the "top half by quality, per language" selection rule; one
    // grouped pass for thresholds, broadcast back over the corpus
    Gate("sampling_quantile_filter", ((s, d) =>
      Sampling.groupQuantileFilter(docs(s, d), "lang", "n_chars", 0.5)),
      """WITH thr AS (SELECT lang, quantile_cont(n_chars, 0.5) AS t
        |               FROM documents GROUP BY lang)
        |SELECT doc_id, text, d.lang, source, n_chars
        |  FROM documents d JOIN thr ON d.lang = thr.lang
        | WHERE d.n_chars >= thr.t""".stripMargin),
    // deterministic split assignment: 80/10/10 by id-hash ppm bucket —
    // stable under any partitioning/engine (randomSplit is not), so a doc
    // keeps its split across re-runs (the train/test-leak guard)
    Gate("sampling_split_assign", ((s, d) =>
      Sampling.assignSplits(docs(s, d).select("doc_id"), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))),
      s"""SELECT doc_id,
         |       CASE WHEN doc_id IS NULL THEN NULL
         |            WHEN h < 800000 THEN 'train'
         |            WHEN h < 900000 THEN 'val'
         |            ELSE 'test' END AS split
         |  FROM (SELECT doc_id, ${duckIdHash("doc_id")} % 1000000 AS h FROM documents) t""".stripMargin),
    // cluster-balanced curation: cap every k-means cluster's contribution at
    // the same per-cluster sample (deterministic (idHash, id) order) — the
    // topic-flattening composition the SemDeDup/data-mixing recipes run
    // between clustering and training-set assembly. Composes the two gated
    // primitives; the oracle chains their oracles the same way.
    Gate("sampling_cluster_balanced", ((s, d) =>
      Sampling.stratified(
        ext.Clustering.kmeansAssign(emb(s, d), "vec_id", "embedding", k = 8, iters = 3),
        "cluster", "vec_id", 25)),
      kmeansBalancedSql(8, 3, 6, 25)),
    // two-sample KS drift between the purchase and error value
    // distributions: bin-free CDF max-gap on the distinct-value grid
    Gate("profile_ks_drift", ((s, d) =>
      graft.ext.Profiling.ksStatistic(events(s, d), col("value"),
        col("event_type") === "purchase", col("event_type") === "error")),
      // CDF max-gap on the pooled distinct-value grid, identical divisions
      """WITH g AS (SELECT value AS v,
        |                  sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS ca,
        |                  sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS cb
        |             FROM events
        |            WHERE value IS NOT NULL AND event_type IN ('purchase', 'error')
        |            GROUP BY 1),
        |t AS (SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb FROM g),
        |c AS (SELECT v, sum(ca) OVER (ORDER BY v) AS cca,
        |             sum(cb) OVER (ORDER BY v) AS ccb FROM g),
        |d AS (SELECT v, abs(CAST(cca AS DOUBLE) / na - CAST(ccb AS DOUBLE) / nb) AS dd
        |        FROM c, t),
        |m AS (SELECT max(dd) AS mx FROM d)
        |SELECT t.na AS n_a, t.nb AS n_b, round(m.mx, 6) AS ks_stat,
        |       min(d.v) AS at_value
        |  FROM d, m, t WHERE d.dd = m.mx GROUP BY 1, 2, 3""".stripMargin),
    // per-class precision/recall/F1 over the NB predictions — closes the
    // train → apply → evaluate loop with exact integer ratios
    Gate("eval_nb_report", ((s, d) => {
      // NB predictions from the per-JVM derived-frame fixture (r20 wave 2):
      // nbClassify is the text_nb_classify gate's operator (fresh there);
      // here the operator under certification is the classification report
      Eval.classificationReport(nbPredsFixture(s, d), col("gold"), col("predicted"))
    }),
      // per-class P/R/F1 over the same NB predictions; F1 via the exact
      // integer identity 2·tp/(n_gold + n_pred), undefined ratios NULL
      s"""WITH $nbScoreCtes,
         |pred AS (SELECT doc_id, gold, lang AS predicted
         |           FROM sc QUALIFY row_number() OVER (PARTITION BY doc_id
         |                 ORDER BY s DESC, lang) = 1),
         |cells AS (SELECT gold AS g, predicted AS p, count(*) AS c
         |            FROM pred GROUP BY 1, 2),
         |gm AS (SELECT g AS label, CAST(sum(c) AS BIGINT) AS n_gold FROM cells GROUP BY 1),
         |pm AS (SELECT p AS label, CAST(sum(c) AS BIGINT) AS n_pred FROM cells GROUP BY 1),
         |tpx AS (SELECT g AS label, c AS tp FROM cells WHERE g = p)
         |SELECT label,
         |       coalesce(n_gold, 0) AS n_gold,
         |       coalesce(n_pred, 0) AS n_pred,
         |       coalesce(tp, 0) AS tp,
         |       CASE WHEN coalesce(n_pred, 0) > 0
         |            THEN round(CAST(coalesce(tp, 0) AS DOUBLE) / n_pred, 6) END AS precision,
         |       CASE WHEN coalesce(n_gold, 0) > 0
         |            THEN round(CAST(coalesce(tp, 0) AS DOUBLE) / n_gold, 6) END AS recall,
         |       CASE WHEN coalesce(n_gold, 0) + coalesce(n_pred, 0) > 0
         |            THEN round(2.0 * coalesce(tp, 0)
         |                       / (coalesce(n_gold, 0) + coalesce(n_pred, 0)), 6) END AS f1
         |  FROM gm FULL OUTER JOIN pm USING (label) LEFT JOIN tpx USING (label)""".stripMargin,
      fixtures = Seq(nbPredsFixture)),
    // Kendall τ-a rank agreement between the token-count and char-count
    // orderings of each language's top-50 longest docs — the cheap-vs-
    // expensive scorer swap test; pairs form only WITHIN the bounded head
    Gate("eval_kendall_tau", ((s, d) => {
      val scored = docs(s, d).filter(col("text").isNotNull)
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), "\\s+")).cast("long").as("n_tokens"),
          length(col("text")).cast("long").as("n_chars_obs"))
      Eval.rankAgreement(scored, col("lang"), col("n_chars_obs"),
          col("n_tokens"), col("doc_id"), head = 50)
        .withColumnRenamed("grp", "lang")
    }),
      // τ-a over the top-50-chars head per language: exact integer pair counts
      """WITH s AS (SELECT doc_id, lang,
        |                  CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n_tokens,
        |                  CAST(length(text) AS BIGINT) AS n_chars_obs
        |             FROM documents WHERE text IS NOT NULL),
        |h AS (SELECT lang, doc_id, n_tokens, n_chars_obs,
        |             row_number() OVER (PARTITION BY lang
        |                 ORDER BY n_chars_obs DESC, doc_id) AS r1
        |        FROM s QUALIFY r1 <= 50),
        |r AS (SELECT lang, r1,
        |             row_number() OVER (PARTITION BY lang
        |                 ORDER BY n_tokens DESC, doc_id) AS r2
        |        FROM h),
        |p AS (SELECT a.lang, count(*) AS n_pairs,
        |             sum(CASE WHEN a.r2 < b.r2 THEN 1 ELSE 0 END) AS concordant
        |        FROM r a JOIN r b ON a.lang = b.lang AND a.r1 < b.r1
        |       GROUP BY 1)
        |SELECT lang, n_pairs, CAST(concordant AS BIGINT) AS concordant,
        |       CAST(n_pairs - concordant AS BIGINT) AS discordant,
        |       round((2.0 * concordant - n_pairs) / n_pairs, 6) AS tau
        |  FROM p""".stripMargin),
    // ---- evaluation metrics (Eval — §2.12 measurement family) ----
    // exact ROC AUC of event value as a purchase score: midranks via the
    // distributed globalOrdinals numbering (NO single-partition sort)
    Gate("eval_auc_purchase", ((s, d) =>
      Eval.aucBinary(events(s, d), col("value"),
        col("event_type") === "purchase", col("event_id"))),
      // Mann–Whitney midrank AUC: tie group at cumulative count `cum` with n
      // members occupies ranks (cum−n+1)..cum, so 2·Σ(pos midranks) =
      // Σ np·(2·cum−n+1); the division happens once, in double
      """WITH g AS (SELECT value AS s, count(*) AS n,
        |                  sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS np
        |             FROM events WHERE value IS NOT NULL GROUP BY 1),
        |o AS (SELECT s, n, np, sum(n) OVER (ORDER BY s) AS cum FROM g),
        |t AS (SELECT sum(CAST(np AS HUGEINT) * (2 * cum - n + 1)) AS r2,
        |             CAST(sum(np) AS BIGINT) AS p,
        |             CAST(sum(n - np) AS BIGINT) AS nn
        |        FROM o)
        |SELECT p AS n_pos, nn AS n_neg,
        |       round((CAST(r2 AS DOUBLE) - CAST(p AS DOUBLE) * (CAST(p AS DOUBLE) + 1))
        |             / (2.0 * CAST(p AS DOUBLE) * CAST(nn AS DOUBLE)), 6) AS auc
        |  FROM t""".stripMargin),
    // reliability bins of the max-normalized value against purchase —
    // bit-deterministic bin edges, exact decimal score sums
    Gate("eval_calibration_bins", ((s, d) =>
      Eval.calibrationBins(events(s, d), col("value"),
        col("event_type") === "purchase", bins = 10)),
      """WITH mx AS (SELECT max(value) AS m FROM events WHERE value IS NOT NULL),
        |b AS (SELECT least(greatest(CAST(floor(value / m * 10) AS INT), 0), 9) AS bin,
        |             CAST(value AS DECIMAL(18,2)) AS v,
        |             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |        FROM events, mx WHERE value IS NOT NULL)
        |SELECT bin, count(*) AS n,
        |       round(CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |             / (SELECT m FROM mx), 6) AS mean_score,
        |       round(CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS frac_pos
        |  FROM b GROUP BY 1""".stripMargin),
    // chance-corrected agreement of the n-gram language-ID heuristic
    // against the gold lang column — the labeler-acceptance metric
    Gate("eval_langid_kappa", ((s, d) => {
      // langId predictions from the per-JVM fixture (r20 wave 2b): langId
      // is the text_langid gate's operator (fresh there); the operator
      // under certification here is the chance-corrected agreement
      val pred = langIdPredsFixture(s, d).select(col("doc_id"), col("pred_lang"))
      val j = pred.join(docs(s, d).select(col("doc_id"), col("lang")), Seq("doc_id"))
      Eval.cohensKappa(j, col("pred_lang"), col("lang"))
    }),
      s"""WITH $langScoreCtes,
         |pred AS (SELECT doc_id, $predLangCase AS pred_lang FROM sc),
         |j AS (SELECT p.pred_lang AS pl, d.lang AS gl
         |        FROM pred p JOIN documents d USING (doc_id)
         |       WHERE p.pred_lang IS NOT NULL AND d.lang IS NOT NULL),
         |tot AS (SELECT count(*) AS n,
         |               sum(CASE WHEN pl = gl THEN 1 ELSE 0 END) AS diag
         |          FROM j),
         |rm AS (SELECT pl AS lab, count(*) AS c FROM j GROUP BY 1),
         |cm AS (SELECT gl AS lab, count(*) AS c FROM j GROUP BY 1),
         |pe AS (SELECT coalesce(sum(CAST(rm.c AS HUGEINT) * cm.c), 0) AS sp
         |         FROM rm JOIN cm USING (lab))
         |SELECT CAST(n AS BIGINT) AS n,
         |       round(CAST(diag AS DOUBLE) / CAST(n AS DOUBLE), 6) AS p_observed,
         |       round(CAST(sp AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS p_expected,
         |       CASE WHEN sp = CAST(n AS HUGEINT) * n THEN NULL
         |            ELSE round((CAST(diag AS DOUBLE) / CAST(n AS DOUBLE)
         |                    - CAST(sp AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
         |                  / (1.0 - CAST(sp AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))), 6)
         |       END AS kappa
         |  FROM tot, pe""".stripMargin,
      fixtures = Seq(langIdPredsFixture)),
    // ---- privacy screens (Privacy — §2.12 release-gate family) ----
    // k-anonymity + l-diversity stats over the (segment, nation) quasi-
    // identifier with the acctbal-thousands bucket as the sensitive value
    Gate("privacy_k_anon_stats", ((s, d) =>
      Privacy.anonymityStats(customer(s, d), Seq("c_mktsegment", "c_nationkey"),
        floor(col("c_acctbal") / 1000).cast("long"), k = 10, l = 3)),
      """SELECT c_mktsegment, c_nationkey, count(*) AS n,
        |       CAST(count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT)) AS BIGINT) AS l_distinct,
        |       count(*) >= 10 AS k_anonymous,
        |       count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT)) >= 3 AS l_diverse
        |  FROM customer GROUP BY 1, 2""".stripMargin),
    // enforcement: suppress quasi-identifiers of rows in groups below k
    Gate("privacy_suppress_k", ((s, d) =>
      Privacy.suppressBelowK(
        customer(s, d).select("c_custkey", "c_mktsegment", "c_nationkey"),
        Seq("c_mktsegment", "c_nationkey"), k = 12)
        .select("c_custkey", "c_mktsegment", "c_nationkey", "grp_n", "suppressed")),
      """WITH g AS (SELECT c_mktsegment, c_nationkey, count(*) AS grp_n
        |             FROM customer GROUP BY 1, 2)
        |SELECT c_custkey,
        |       CASE WHEN grp_n < 12 THEN '*' ELSE c.c_mktsegment END AS c_mktsegment,
        |       CASE WHEN grp_n < 12 THEN '*' ELSE CAST(c.c_nationkey AS VARCHAR) END AS c_nationkey,
        |       grp_n, grp_n < 12 AS suppressed
        |  FROM customer c JOIN g USING (c_mktsegment, c_nationkey)""".stripMargin)
  )
}
