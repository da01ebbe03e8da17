package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.SummaryOps
import graft.ops.SummaryOps.{FeatureSpec, HistogramSpec, QuestionnaireSpec, SliderSpec}

/** Oracle-checked queries for the `extract_patient_summary.py` pipeline
  * (SURVEY.md §2.3 F4-F7, §2.6 A4-A9, §2.8 W1-W2, §3.3) — the hardest
  * reference semantics, exercised end-to-end through [[SummaryOps]].
  *
  * The reference consumes CSVs whose questionnaire answers are a
  * flattened repeated group (`value.answers.<N>.questionId` /
  * `value.answers.<N>.value`, `extract_patient_summary.py:313-319`).
  * The testdata has no such table, so each query first derives one
  * deterministically from `events` — with the SAME derivation written in
  * the DuckDB oracle — then runs the real [[SummaryOps]] operators on it:
  * unpivot (W1/W2), prefix/exact questionId match, epoch-time parse,
  * numeric coercion with junk values, per-bucket stats (A4/A5), rollup
  * (A6/A7), questionnaire counts (A8), histogram counts (A9), and
  * document assembly.
  *
  * Epoch parity note: Spark sees parquet nanos truncated to micros
  * (Tables.events), so `unix_seconds` = floor(ns/1e9); the oracle uses
  * `epoch_ns(ts) // 1000000000` — integer math on both sides, no double
  * rounding at second boundaries.
  */
object SummaryQueries {

  /** The one `events` projection every fixture below derives from —
    * q29 persists THIS so its five consumers (feature long ×2 specs,
    * questionnaire filter, slider, histogram ×2 specs) cost ONE scan of
    * the parquet, not three (the r3 verdict's q29 tuning item). */
  private def eventsBase(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .select("event_id", "user_id", "ts", "event_type", "value")

  /** Flattened-answers fixture (the shape of a questionnaire CSV):
    *  - pair 0: questionId `slider_<event_type>`, value = the numeric
    *    reading as a string, with deterministic junk every 7th event
    *    (exercises P5 coercion-to-null);
    *  - pair 1: questionId `q_<event_type>`, value = a bucketed
    *    categorical response string (histogram fodder);
    *  - pair 2: a questionId column with NO paired value column —
    *    [[SummaryOps.answersUnpivot]] must skip it at plan time,
    *    matching the reference's `value_col in row` check.
    */
  private def answersFixture(s: SparkSession, dir: String): DataFrame =
    answersFixtureFrom(eventsBase(s, dir))

  private def answersFixtureFrom(ev: DataFrame): DataFrame =
    ev.select(
      col("event_id"),
      col("user_id").cast("string").as("participant_id"),
      unix_seconds(col("ts").cast("timestamp")).cast("double")
        .as("value.startTime"),
      concat(lit("slider_"), col("event_type"))
        .as("value.answers.0.questionId"),
      when(col("event_id") % 7 === 0, lit("junk"))
        .otherwise(col("value").cast("string"))
        .as("value.answers.0.value"),
      concat(lit("q_"), col("event_type"))
        .as("value.answers.1.questionId"),
      coalesce(floor(col("value") / 20).cast("int").cast("string"), lit("NA"))
        .as("value.answers.1.value"),
      lit("slider_orphan").as("value.answers.2.questionId"))

  /** Feature-extraction fixture: epoch time `t`, router/filter column
    * `event_type`, extraction column `xval` with junk every 11th event. */
  private def featureFixture(s: SparkSession, dir: String): DataFrame =
    featureFixtureFrom(eventsBase(s, dir))

  private def featureFixtureFrom(ev: DataFrame): DataFrame =
    ev.select(
      col("event_id"),
      col("user_id").cast("string").as("participant_id"),
      unix_seconds(col("ts").cast("timestamp")).cast("double").as("t"),
      col("event_type"),
      when(col("event_id") % 11 === 0, lit("bad"))
        .otherwise(col("value").cast("string")).as("xval"))

  private val featureSpecs = Seq(
    FeatureSpec("steps", "", "t", "xval", Some("event_type"), Some("click"), None, 0),
    FeatureSpec("heart_rate", "", "t", "xval", Some("event_type"), Some("view"), None, 1))

  /** One long-form branch per spec over a SHARED fixture frame — the
    * caller persists `fdf` (or derives it from a persisted base) so the
    * branches cost one events scan, not one per spec. */
  private def featuresLongFrom(fdf: DataFrame): DataFrame =
    featureSpecs.map(SummaryOps.featureLong(fdf, _, "month"))
      .reduce(_.unionByName(_))

  private def featuresLong(s: SparkSession, dir: String): DataFrame =
    featuresLongFrom(featureFixture(s, dir))

  private val sliderSpec =
    SliderSpec("mood", "", "value.answers", "slider_", "value", "value.startTime")
  private val histSpecs = Seq(
    HistogramSpec("wellbeing", "", "value.answers", "q_click", "value", "value.startTime"),
    HistogramSpec("behavior", "", "value.answers", "q_view", "value", "value.startTime"))

  /** Both histogram specs (and, in q29, the slider spec too) scan the
    * same fixture — callers pass a persisted `fx` so the events scan +
    * fixture projection runs once, not once per consumer. */
  private def histLong(fx: DataFrame): DataFrame =
    histSpecs.map(SummaryOps.histogramLong(fx, _, "month")).reduce(_.unionByName(_))

  // ---------------------------------------------------------------
  // Shared oracle CTE fragments — the SQL twins of the fixtures.
  // ---------------------------------------------------------------

  private val fxCte = """
    fx AS (SELECT event_id,
                  user_id::VARCHAR AS participant_id,
                  (epoch_ns(ts) // 1000000000)::DOUBLE AS start_time,
                  'slider_' || event_type AS qid0,
                  CASE WHEN event_id % 7 = 0 THEN 'junk'
                       ELSE value::VARCHAR END AS val0,
                  'q_' || event_type AS qid1,
                  coalesce((floor(value / 20)::INT)::VARCHAR, 'NA') AS val1
           FROM events)"""

  private val fdfCte = """
    fdf AS (SELECT event_id,
                   user_id::VARCHAR AS participant_id,
                   (epoch_ns(ts) // 1000000000)::DOUBLE AS t,
                   event_type,
                   CASE WHEN event_id % 11 = 0 THEN 'bad'
                        ELSE value::VARCHAR END AS xval
            FROM events)"""

  /** month key + day from an epoch-seconds double, naive-UTC on both
    * sides (make_timestamp avoids DuckDB's tz-sensitive to_timestamp). */
  private def sqlMonth(e: String) =
    s"strftime(make_timestamp(($e * 1000000)::BIGINT), '%Y-%m')"
  private def sqlDay(e: String) =
    s"CAST(make_timestamp(($e * 1000000)::BIGINT) AS DATE)"

  /** W1 unpivot + slider rows: both answer pairs, prefix-matched. */
  private val slCte = s"""
    lng AS (SELECT participant_id, qid0 AS qid, val0 AS answer, start_time FROM fx
            UNION ALL
            SELECT participant_id, qid1, val1, start_time FROM fx),
    sl AS (SELECT participant_id,
                  ${sqlMonth("start_time")} AS time_key,
                  'mood' AS domain,
                  ${sqlDay("start_time")} AS day,
                  TRY_CAST(answer AS DOUBLE) AS value
           FROM lng
           WHERE starts_with(qid, 'slider_') AND start_time IS NOT NULL)"""

  /** Feature long rows (F4 filter + P2 parse + P5 coercion), per spec. */
  private val flCte = s"""
    fl AS (SELECT participant_id, ${sqlMonth("t")} AS time_key,
                  'steps' AS feature, ${sqlDay("t")} AS day,
                  TRY_CAST(xval AS DOUBLE) AS value
           FROM fdf WHERE event_type = 'click' AND t IS NOT NULL
           UNION ALL
           SELECT participant_id, ${sqlMonth("t")}, 'heart_rate', ${sqlDay("t")},
                  TRY_CAST(xval AS DOUBLE)
           FROM fdf WHERE event_type = 'view' AND t IS NOT NULL)"""

  /** W2 histogram long rows: exact questionId match, two specs. */
  private val hCte = s"""
    h AS (SELECT participant_id,
                 ${sqlMonth("start_time")} AS time_key,
                 CASE qid1 WHEN 'q_click' THEN 'wellbeing'
                           WHEN 'q_view' THEN 'behavior' END AS domain,
                 qid1 AS questionId, val1 AS response
          FROM fx
          WHERE qid1 IN ('q_click', 'q_view') AND start_time IS NOT NULL)"""

  private val statsSelect = """
           count(*) AS total_entries,
           count(DISTINCT CASE WHEN value IS NOT NULL THEN day END) AS days_with_data,
           round(avg(value), 4) AS mean,
           round(median(value), 4) AS median,
           round(stddev_pop(value), 4) AS std_dev,
           round(min(value), 4) AS min,
           round(max(value), 4) AS max"""

  private def roundedStats(df: DataFrame, keys: Seq[String]): DataFrame =
    df.select(
      keys.map(col) ++ Seq(
        col("total_entries"), col("days_with_data"),
        round(col("mean"), 4).as("mean"),
        round(col("median"), 4).as("median"),
        round(col("std_dev"), 4).as("std_dev"),
        round(col("min"), 4).as("min"),
        round(col("max"), 4).as("max")): _*)
      .orderBy(keys.map(col): _*)

  val all: Seq[Q] = Seq(

    // ---------------------------------------------------------------
    // W1 slider pipeline: answersUnpivot → prefix match → sliderStats.
    // ---------------------------------------------------------------
    Q("q26_slider_stats",
      (s, dir) => roundedStats(
        SummaryOps.sliderStats(
          SummaryOps.sliderLong(answersFixture(s, dir), sliderSpec, "month")),
        Seq("participant_id", "time_key", "domain")),
      Some(s"""
        WITH $fxCte, $slCte
        SELECT participant_id, time_key, domain, $statsSelect
        FROM sl GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""),
      "W1 slider unpivot + A4 stats (extract_patient_summary.py:306-342,416-428)"),

    // ---------------------------------------------------------------
    // W2+A9 histogram pipeline: exact-id match → nested map doc shape,
    // exploded back to flat rows so the nesting itself is verified.
    // ---------------------------------------------------------------
    Q("q27_histogram_counts",
      (s, dir) => SummaryOps.histogramCounts(histLong(answersFixture(s, dir).persist()))
        .select(col("participant_id"), col("time_key"),
          explode(col("histogram")).as(Seq("domain", "by_question")))
        .select(col("participant_id"), col("time_key"), col("domain"),
          explode(col("by_question")).as(Seq("questionId", "by_response")))
        .select(col("participant_id"), col("time_key"), col("domain"),
          col("questionId"),
          explode(col("by_response")).as(Seq("response", "n")))
        .orderBy("participant_id", "time_key", "domain", "questionId", "response"),
      Some(s"""
        WITH $fxCte, $hCte
        SELECT participant_id, time_key, domain, questionId, response,
               count(*) AS n
        FROM h GROUP BY 1, 2, 3, 4, 5 ORDER BY 1, 2, 3, 4, 5"""),
      "W2 histogram unpivot + A9 nested map-of-maps counts (extract_patient_summary.py:344-377)"),

    // ---------------------------------------------------------------
    // F4+P2+P5+A4+A5: config-driven feature extraction → stats.
    // ---------------------------------------------------------------
    Q("q28_feature_stats",
      (s, dir) => roundedStats(
        SummaryOps.featureStats(featuresLong(s, dir)),
        Seq("participant_id", "time_key", "feature")),
      Some(s"""
        WITH $fdfCte, $flCte
        SELECT participant_id, time_key, feature, $statsSelect
        FROM fl GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""),
      "featureLong (filter variant spec) → featureStats (extract_patient_summary.py:104-118,396-411)"),

    // ---------------------------------------------------------------
    // Document assembly: all stages joined into per-bucket documents
    // (flattened scalars + nested-map sizes for hashing).
    // ---------------------------------------------------------------
    Q("q29_assemble",
      (s, dir) => {
        // ONE events scan for the whole document: persist the shared
        // base projection, derive every fixture from it in memory.
        // featuresLong feeds both dataSummary and featureStats (persist
        // the long form too — it is the expensive derived table); fx
        // feeds the slider stage and both histogram specs; qdf shares
        // the feature fixture instead of re-deriving it (r3 verdict).
        val ev = eventsBase(s, dir).persist()
        val fdf = featureFixtureFrom(ev)
        val fl = featuresLongFrom(fdf).persist()
        val fx = answersFixtureFrom(ev)
        val qdf = fdf.filter(col("event_type") === "signup")
        val doc = SummaryOps.assemble(
          SummaryOps.dataSummary(fl),
          SummaryOps.featureStats(fl),
          Some(SummaryOps.questionnaireCounts(
            SummaryOps.questionnaireLong(qdf, QuestionnaireSpec("", "t"), "month"))),
          Some(SummaryOps.sliderStats(
            SummaryOps.sliderLong(fx, sliderSpec, "month"))),
          Some(SummaryOps.histogramCounts(histLong(fx))))
        doc.select(
          col("participant_id"), col("time_key"), col("patient_id"), col("site"),
          col("data_summary.start_date").as("start_date"),
          col("data_summary.end_date").as("end_date"),
          col("data_summary.total_days_with_data").as("total_days_with_data"),
          array_join(col("data_summary.features_available"), ",").as("features_available"),
          col("questionnaire_responses.total_responses").as("total_responses"),
          col("questionnaire_responses.days_with_responses").as("days_with_responses"),
          when(col("feature_statistics").isNull, lit(0))
            .otherwise(size(col("feature_statistics"))).as("n_features"),
          when(col("questionnaire_responses.slider").isNull, lit(0))
            .otherwise(size(col("questionnaire_responses.slider"))).as("n_slider_domains"),
          when(col("questionnaire_responses.histogram").isNull, lit(0))
            .otherwise(size(col("questionnaire_responses.histogram"))).as("n_hist_domains"))
          .orderBy("participant_id", "time_key")
      },
      Some(s"""
        WITH $fxCte, $fdfCte, $slCte, $flCte, $hCte,
        ds AS (SELECT participant_id, time_key,
                      strftime(min(CASE WHEN value IS NOT NULL THEN day END), '%Y-%m-%d') AS start_date,
                      strftime(max(CASE WHEN value IS NOT NULL THEN day END), '%Y-%m-%d') AS end_date,
                      count(DISTINCT CASE WHEN value IS NOT NULL THEN day END) AS total_days_with_data,
                      array_to_string(list_sort(list_distinct(list(feature))), ',') AS features_available,
                      count(DISTINCT feature) AS n_features
               FROM fl GROUP BY 1, 2),
        qc AS (SELECT participant_id, ${sqlMonth("t")} AS time_key,
                      count(*) AS total_responses,
                      count(DISTINCT ${sqlDay("t")}) AS days_with_responses
               FROM fdf WHERE event_type = 'signup' AND t IS NOT NULL
               GROUP BY 1, 2),
        ssk AS (SELECT participant_id, time_key, count(DISTINCT domain) AS n_slider_domains
                FROM sl GROUP BY 1, 2),
        hk AS (SELECT participant_id, time_key, count(DISTINCT domain) AS n_hist_domains
               FROM h GROUP BY 1, 2),
        allkeys AS (SELECT participant_id, time_key FROM ds
                    UNION SELECT participant_id, time_key FROM qc
                    UNION SELECT participant_id, time_key FROM ssk
                    UNION SELECT participant_id, time_key FROM hk)
        SELECT k.participant_id, k.time_key,
               k.participant_id AS patient_id,
               k.participant_id AS site,
               ds.start_date, ds.end_date,
               coalesce(ds.total_days_with_data, 0) AS total_days_with_data,
               coalesce(ds.features_available, '') AS features_available,
               coalesce(qc.total_responses, 0) AS total_responses,
               coalesce(qc.days_with_responses, 0) AS days_with_responses,
               coalesce(ds.n_features, 0) AS n_features,
               coalesce(ssk.n_slider_domains, 0) AS n_slider_domains,
               coalesce(hk.n_hist_domains, 0) AS n_hist_domains
        FROM allkeys k
        LEFT JOIN ds USING (participant_id, time_key)
        LEFT JOIN qc USING (participant_id, time_key)
        LEFT JOIN ssk USING (participant_id, time_key)
        LEFT JOIN hk USING (participant_id, time_key)
        ORDER BY 1, 2"""),
      "doc assembly: defaultdict-bucket semantics, site=participant quirk §2.11.2 (extract_patient_summary.py:380-435)")
  )
}
