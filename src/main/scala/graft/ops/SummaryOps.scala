package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.TimeOps

/** The `extract_patient_summary.py` pipeline (SURVEY.md §2.3 F4-F7, §2.5 J1,
  * §2.6 A4-A9, §2.8 W1-W2): config-driven feature + questionnaire extraction
  * into per-(participant, time-bucket) summary documents.
  *
  * Reference shape: os.walk over a merged lake, route each file to the
  * FIRST feature spec whose `source` is a substring of the path
  * (`extract_patient_summary.py:265-284`, break at `:284`), then
  * `iterrows()` accumulation into nested dicts. Here each stage is a
  * DataFrame op; the only wide dependency is the final
  * `groupBy(participant_id, time_key)` — one shuffle regardless of input
  * size, and every extraction/unpivot is plan construction (no UDFs).
  */
object SummaryOps {

  /** `--feature` spec: 6-part filter variant or 5-part unit variant
    * (`extract_patient_summary.py:34-57`). */
  final case class FeatureSpec(
      feature: String, source: String, timeField: String,
      extractionField: String,
      filterField: Option[String], filterValue: Option[String],
      unit: Option[String], priority: Int)

  /** `--questionnaire` spec (`extract_patient_summary.py:59-64`). */
  final case class QuestionnaireSpec(fileFilter: String, timeField: String)

  /** `--questionnaire-slider` spec (`extract_patient_summary.py:66-79`). */
  final case class SliderSpec(
      domain: String, fileFilter: String, answersBase: String,
      targetPrefix: String, valueSuffix: String, timeSuffix: String)

  /** `--questionnaire-histogram` spec (`extract_patient_summary.py:81-91`). */
  final case class HistogramSpec(
      domain: String, fileFilter: String, answersBase: String,
      targetQuestionId: String, valueSuffix: String, timeSuffix: String)

  /** Spec-string grammar, identical overloading rules to
    * `parse_feature_flag` (`extract_patient_summary.py:34-57`):
    * 6 fields = feature:source:time:filterField:filterValue:extraction,
    * 5 fields = feature:source:time:extraction:unit. */
  def parseFeature(flag: String, priority: Int): FeatureSpec =
    flag.split(":", -1) match {
      case Array(f, s, t, ff, fv, ef) =>
        FeatureSpec(f, s, t, ef, Some(ff), Some(fv), None, priority)
      case Array(f, s, t, ef, u) =>
        FeatureSpec(f, s, t, ef, None, None, Some(u), priority)
      case _ =>
        throw new IllegalArgumentException(s"Invalid feature flag format: $flag")
    }

  def parseQuestionnaire(flag: String): QuestionnaireSpec =
    flag.split(":", -1) match {
      case Array(ff, tf) => QuestionnaireSpec(ff, tf)
      case _ => throw new IllegalArgumentException(s"Invalid questionnaire flag format: $flag")
    }

  def parseSlider(flag: String): SliderSpec =
    flag.split(":", -1) match {
      case Array(d, ff, ab, tp, vs, ts) => SliderSpec(d, ff, ab, tp, vs, ts)
      case _ => throw new IllegalArgumentException(s"Invalid questionnaire slider flag format: $flag")
    }

  def parseHistogram(flag: String): HistogramSpec =
    flag.split(":", -1) match {
      case Array(d, ff, ab, tq, vs, ts) => HistogramSpec(d, ff, ab, tq, vs, ts)
      case _ => throw new IllegalArgumentException(s"Invalid questionnaire histogram flag format: $flag")
    }

  // ------------------------------------------------------------------
  // J1: first-match-wins routing of files to feature specs.
  // ------------------------------------------------------------------

  /** Route each path to the first (lowest-priority-index) feature spec whose
    * `source` is a substring of the path — deterministic replacement for the
    * reference's dict-iteration-order `break` (`extract_patient_summary
    * .py:265-284`; SURVEY.md §2.11.8). Broadcast theta-join + row_number:
    * the spec list is tiny, so this never shuffles the inventory. */
  def routeFeatures(spark: SparkSession, inventory: DataFrame, specs: Seq[FeatureSpec]): DataFrame = {
    import spark.implicits._
    val specDf = specs.map(s => (s.feature, s.source, s.priority)).toDF("feature", "source", "priority")
    val joined = inventory.join(broadcast(specDf), col("path").contains(col("source")))
    val w = Window.partitionBy(col("path")).orderBy(col("priority"))
    joined.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  // ------------------------------------------------------------------
  // W1/W2: wide-column unpivot of the flattened repeated answers group.
  // ------------------------------------------------------------------

  /** Unpivot `<answersBase>.<N>.questionId` / `<answersBase>.<N>.<valueSuffix>`
    * column pairs into exploded (questionId, answer) rows
    * (`extract_patient_summary.py:313-320,357-364`). Pure plan construction
    * from `df.schema` — the per-row "column scan" of the reference happens
    * once at planning, not per row. Pairs whose value column is missing are
    * skipped, matching the reference's `value_col in row` check. */
  def answersUnpivot(df: DataFrame, answersBase: String, valueSuffix: String): DataFrame = {
    val pairs = df.columns
      .filter(c => c.startsWith(answersBase) && c.endsWith(".questionId"))
      .sorted
      .flatMap { qc =>
        val valueCol = qc.stripSuffix("questionId") + valueSuffix
        if (df.columns.contains(valueCol)) Some((qc, valueCol)) else None
      }
    require(pairs.nonEmpty, s"no $answersBase.*.questionId/$valueSuffix column pairs in schema")
    val entries = array(pairs.map { case (qc, vc) =>
      struct(
        col(s"`$qc`").cast("string").as("questionId"),
        col(s"`$vc`").cast("string").as("answer"))
    }: _*)
    df.withColumn("answer_entry", explode(entries))
      .withColumn("questionId", col("answer_entry.questionId"))
      .withColumn("answer", col("answer_entry.answer"))
      .drop("answer_entry")
  }

  // ------------------------------------------------------------------
  // Extraction stages → one long-format DataFrame each.
  // ------------------------------------------------------------------

  /** Feature extraction for one routed source df (already carrying
    * `participant_id`): F4 equality filter, P2 time parse, F5 null-time
    * drop, P5 numeric coercion (`process_csv_file`,
    * `extract_patient_summary.py:120-140` + `update_summary` `:104-112`).
    * Output long rows: (participant_id, time_key, feature, day, value)
    * where `value` is null for non-numeric entries — those still count
    * toward total_entries but contribute no day/value, exactly like the
    * reference's early return. */
  def featureLong(df: DataFrame, spec: FeatureSpec, resolution: String): DataFrame = {
    val filtered = (spec.filterField, spec.filterValue) match {
      case (Some(f), Some(v)) => df.filter(col(s"`$f`").cast("string") === lit(v))
      case _ => df
    }
    val ts = TimeOps.epochSecondsToTs(col(s"`${spec.timeField}`"))
    filtered
      .withColumn("ts", ts)
      .filter(col("ts").isNotNull)
      .select(
        col("participant_id"),
        TimeOps.timeKey(col("ts"), resolution).as("time_key"),
        lit(spec.feature).as("feature"),
        to_date(col("ts")).as("day"),
        col(s"`${spec.extractionField}`").try_cast("double").as("value"))
  }

  /** A5+A4: per-(participant, time_key, feature) statistics — the A4
    * stats bundle with the reference's exact semantics: population
    * std-dev (`np.std` ddof=0, `extract_patient_summary.py:118`), exact
    * median, nulls for empty value lists (`:115-116`). */
  def featureStats(featuresLong: DataFrame): DataFrame = {
    // countDistinct with a filter: count days only where value is numeric
    featuresLong
      .groupBy("participant_id", "time_key", "feature")
      .agg(
        count(lit(1)).as("total_entries"),
        count_distinct(when(col("value").isNotNull, col("day"))).as("days_with_data"),
        avg("value").as("mean"),
        median(col("value")).as("median"),
        stddev_pop(col("value")).as("std_dev"),
        min("value").as("min"),
        max("value").as("max"))
  }

  /** A6+A7: per-bucket rollup — features_available (sorted), start/end date
    * and total days across all features (`extract_patient_summary
    * .py:382-394`). Day sets only accumulate numeric entries (see
    * `update_summary`), hence the value-not-null guard. */
  def dataSummary(featuresLong: DataFrame): DataFrame =
    featuresLong
      .groupBy("participant_id", "time_key")
      .agg(
        sort_array(collect_set(col("feature"))).as("features_available"),
        date_format(min(when(col("value").isNotNull, col("day"))), "yyyy-MM-dd").as("start_date"),
        date_format(max(when(col("value").isNotNull, col("day"))), "yyyy-MM-dd").as("end_date"),
        count_distinct(when(col("value").isNotNull, col("day"))).as("total_days_with_data"))

  /** A8: simple questionnaire response counting
    * (`extract_patient_summary.py:287-304`). */
  def questionnaireLong(df: DataFrame, spec: QuestionnaireSpec, resolution: String): DataFrame = {
    val ts = TimeOps.epochSecondsToTs(col(s"`${spec.timeField}`"))
    df.withColumn("ts", ts)
      .filter(col("ts").isNotNull)
      .select(
        col("participant_id"),
        TimeOps.timeKey(col("ts"), resolution).as("time_key"),
        to_date(col("ts")).as("day"))
  }

  def questionnaireCounts(qLong: DataFrame): DataFrame =
    qLong.groupBy("participant_id", "time_key")
      .agg(
        count(lit(1)).as("total_responses"),
        count_distinct(col("day")).as("days_with_responses"))

  /** W1: slider extraction (`extract_patient_summary.py:306-342`) —
    * unpivot, prefix-match questionId, per-row time from `timeSuffix`
    * column, numeric coercion. total_entries counts rows with a valid
    * time and matching prefix even when the value is non-numeric
    * (`slider_summary["total_entries"] += 1` precedes the float()). */
  def sliderLong(df: DataFrame, spec: SliderSpec, resolution: String): DataFrame = {
    val ts = TimeOps.epochSecondsToTs(col(s"`${spec.timeSuffix}`"))
    answersUnpivot(df, spec.answersBase, spec.valueSuffix)
      .filter(col("questionId").startsWith(spec.targetPrefix))
      .withColumn("ts", ts)
      .filter(col("ts").isNotNull)
      .select(
        col("participant_id"),
        TimeOps.timeKey(col("ts"), resolution).as("time_key"),
        lit(spec.domain).as("domain"),
        to_date(col("ts")).as("day"),
        col("answer").try_cast("double").as("value"))
  }

  def sliderStats(sLong: DataFrame): DataFrame =
    sLong.groupBy("participant_id", "time_key", "domain")
      .agg(
        count(lit(1)).as("total_entries"),
        count_distinct(when(col("value").isNotNull, col("day"))).as("days_with_data"),
        avg("value").as("mean"),
        median(col("value")).as("median"),
        stddev_pop(col("value")).as("std_dev"),
        min("value").as("min"),
        max("value").as("max"))

  /** W2+A9: histogram extraction (`extract_patient_summary.py:344-377`) —
    * exact questionId match, count by stringified response.
    *
    * NOTE deliberate fix of reference bug §2.11.1: the reference reads the
    * time column from the leftover *slider* loop variable (`qs_def` at
    * `:359`); we use the histogram spec's own `timeSuffix`. */
  def histogramLong(df: DataFrame, spec: HistogramSpec, resolution: String): DataFrame = {
    val ts = TimeOps.epochSecondsToTs(col(s"`${spec.timeSuffix}`"))
    answersUnpivot(df, spec.answersBase, spec.valueSuffix)
      .filter(col("questionId") === lit(spec.targetQuestionId))
      .withColumn("ts", ts)
      .filter(col("ts").isNotNull)
      .select(
        col("participant_id"),
        TimeOps.timeKey(col("ts"), resolution).as("time_key"),
        lit(spec.domain).as("domain"),
        col("questionId"),
        col("answer").as("response"))
  }

  /** Key-sorted map from collected (key, value) structs: collect_list
    * order follows shuffle arrival, so unsorted maps would make the
    * written document bytes run-dependent — the golden-file contract
    * (reference output, `extract_patient_summary.py:430-435`) needs
    * deterministic serialization. The comparator looks only at the key
    * field (group keys, never null): array_sort's default struct
    * ordering rejects structs carrying map-typed values. */
  private def sortedMap(entries: Column, key: String): Column =
    map_from_entries(array_sort(entries, (l, r) =>
      when(l.getField(key) < r.getField(key), -1)
        .when(l.getField(key) > r.getField(key), 1)
        .otherwise(0)))

  /** A9: response counts → the nested map-of-maps document shape
    * `histogram[domain][questionId][response] = n`, key-sorted at every
    * level (see [[sortedMap]]). */
  def histogramCounts(hLong: DataFrame): DataFrame =
    hLong
      .groupBy("participant_id", "time_key", "domain", "questionId", "response")
      .agg(count(lit(1)).as("n"))
      .groupBy("participant_id", "time_key", "domain", "questionId")
      .agg(sortedMap(collect_list(struct(col("response"), col("n"))), "response").as("by_response"))
      .groupBy("participant_id", "time_key", "domain")
      .agg(sortedMap(collect_list(struct(col("questionId"), col("by_response"))), "questionId").as("by_question"))
      .groupBy("participant_id", "time_key")
      .agg(sortedMap(collect_list(struct(col("domain"), col("by_question"))), "domain").as("histogram"))

  // ------------------------------------------------------------------
  // Document assembly (`extract_patient_summary.py:380-435`).
  // ------------------------------------------------------------------

  /** Assemble the per-(participant, time_key) summary documents. Any of the
    * sub-aggregates may be empty; buckets exist if *any* stage produced
    * rows for them (the reference's defaultdict semantics). `site`
    * deliberately duplicates participant_id (reference quirk §2.11.2,
    * `extract_patient_summary.py:260-261`). */
  def assemble(
      dataSummaryDf: DataFrame,
      featureStatsDf: DataFrame,
      questionnaireDf: Option[DataFrame],
      sliderStatsDf: Option[DataFrame],
      histogramDf: Option[DataFrame]): DataFrame = {

    val keys = Seq("participant_id", "time_key")
    val statsStruct = struct(
      col("total_entries"), col("days_with_data"), col("mean"),
      col("median"), col("std_dev"), col("min"), col("max"))

    // key-sorted maps (see sortedMap): deterministic doc bytes
    val features = featureStatsDf
      .groupBy(keys.map(col): _*)
      .agg(sortedMap(collect_list(struct(col("feature"), statsStruct)), "feature")
        .as("feature_statistics"))

    val sliders = sliderStatsDf.map(_
      .groupBy(keys.map(col): _*)
      .agg(sortedMap(collect_list(struct(col("domain"), statsStruct)), "domain")
        .as("slider")))

    val allKeys = (Seq(dataSummaryDf, features) ++ questionnaireDf ++ sliders ++ histogramDf)
      .map(_.select(keys.map(col): _*))
      .reduce(_.unionByName(_))
      .distinct()

    var doc = allKeys
      .join(dataSummaryDf, keys, "left")
      .join(features, keys, "left")
    doc = questionnaireDf.fold(doc.withColumn("total_responses", lit(0L))
      .withColumn("days_with_responses", lit(0L)))(q =>
      doc.join(q, keys, "left")
        .na.fill(0, Seq("total_responses", "days_with_responses")))
    doc = sliders.fold(doc)(s => doc.join(s, keys, "left"))
    doc = histogramDf.fold(doc)(h => doc.join(h, keys, "left"))

    doc
      .withColumn("patient_id", col("participant_id"))
      .withColumn("site", col("participant_id"))
      .withColumn("data_summary", struct(
        col("start_date"), col("end_date"),
        coalesce(col("total_days_with_data"), lit(0L)).as("total_days_with_data"),
        lit(null).cast("string").as("missing_days"),
        coalesce(col("features_available"), array().cast("array<string>")).as("features_available")))
      .withColumn("questionnaire_responses", struct(
        col("total_responses"), col("days_with_responses"),
        (if (sliders.isDefined) col("slider") else lit(null).cast("map<string,struct<total_entries:bigint,days_with_data:bigint,mean:double,median:double,std_dev:double,min:double,max:double>>")).as("slider"),
        (if (histogramDf.isDefined) col("histogram") else lit(null).cast("map<string,map<string,map<string,bigint>>>")).as("histogram")))
      .select("participant_id", "time_key", "patient_id", "site",
        "data_summary", "feature_statistics", "questionnaire_responses")
      .orderBy("participant_id", "time_key")
  }
}
