package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.genomics.Annotations

/** §3.3 — the Spectrum materialized-view DAG
  * (`database/sql/spectrum/sequences_gisaid_api_based.sql`), the
  * reference's analytic heart. Each matview is a named DataFrame
  * function; "refresh" = rerun the job and atomically swap the output
  * (graft.core.TableIO), replacing `refresh materialized view
  * concurrently` (`spectrum/refreshes.sql:3-10`).
  *
  * Scale shape: the dedup is one window (replacing the correlated
  * double NOT EXISTS at :60-77); dimension joins broadcast; the final
  * tables partition naturally by (date, country) for downstream
  * pruning.
  */
object SpectrumViews {

  /** View 1 — `spectrum_sequence_public_meta` (:22-113).
    *
    * Released branch (:46-56): EVERY sequence whose sample is on
    * GISAID — no fail filter, no dedup. Unreleased branch (:57-68):
    * only when the ethid has NO released sequence at all (the NOT
    * EXISTS matches sequence_identifier by sample_name OR ethid,
    * :62-66), pick best-per-ethid (min number_n, tie-break
    * sample_name) ranked over ALL of the ethid's sequences including
    * failed ones (:68-77 cs2 has no fail filter), and the winner must
    * itself pass (fail_reason null, :78). Privacy projection names
    * unreleased rows `'UNRELEASED_ETHZ_' || ethid`. GISAID branch:
    * everything except our own re-uploads (`strain NOT LIKE
    * '%-ETHZ-%'`), null-padded to the same schema.
    */
  def sequencePublicMeta(consensus: DataFrame, sequenceIdentifier: DataFrame,
      viollierTest: DataFrame, gisaid: DataFrame): DataFrame = {
    val byEthid = Window.partitionBy(col("ethid"))
    val w = byEthid.orderBy(col("number_n").asc, col("sample_name").asc)
    // ethids released through an identifier row matched by ethid —
    // catches identifiers whose sample_name matches no consensus row.
    // Keyed by ethid like the dedup window, so the shuffle is shared.
    val releasedViaEthid = sequenceIdentifier
      .filter(col("gisaid_id").isNotNull && col("ethid").isNotNull)
      .select(col("ethid")).distinct()
      .withColumn("__released_via_ethid", lit(true))
    val own = consensus
      // on-GISAID is a per-SEQUENCE property (the uploaded sample)
      .join(sequenceIdentifier.select(col("sample_name"), col("gisaid_id")), Seq("sample_name"), "left")
      .join(releasedViaEthid, Seq("ethid"), "left")
      .withColumn("__rn", row_number().over(w))
      .withColumn("__ethid_released",
        max(col("gisaid_id").isNotNull).over(byEthid)
          || coalesce(col("__released_via_ethid"), lit(false)))
      .filter(
        col("gisaid_id").isNotNull // released: keep all, even failed/dup
          || (!col("__ethid_released") && col("__rn") === 1 && col("fail_reason").isNull))
      .join(viollierTest.select(col("ethid"), col("order_date"), col("canton")), Seq("ethid"), "left")
      .select(
        coalesce(col("gisaid_id"), concat(lit("UNRELEASED_ETHZ_"), col("ethid"))).as("strain"),
        lit("Switzerland").as("country"),
        col("canton").as("division"),
        col("order_date").as("date"),
        col("pango_lineage"),
        lit("own").as("source_branch"))
    val foreign = gisaid
      .filter(!col("strain").like("%-ETHZ-%"))
      .select(
        col("strain"),
        col("country"),
        col("division"),
        col("date"),
        col("pango_lineage"),
        lit("gisaid").as("source_branch"))
    own.unionByName(foreign)
  }

  /** View 1b — `staging_spectrum_sequence_private_meta` (:274-365):
    * the public view's own-branch dedup (identical released/unreleased
    * semantics) but an INNER join to viollier_test and the full private
    * projection — canton→English division, city/zip, Meldeformular
    * age/sex/hospitalization/death/vaccination, Nextclade lineage.
    * GISAID branch: country via spectrum_country iso lookup, Team-W
    * originating lab exempt from the ETHZ-strain exclusion, Human
    * hosts, dates from 2020-01-01. Dimension joins (canton, country)
    * broadcast; the Meldeformular join keys on sample_number.
    *
    * The reference left-joins sequence_identifier by ethid for the
    * display name (:333); with multiple identifier rows per ethid that
    * would fan out — here the first (min) gisaid_id per ethid is taken,
    * deterministic and fan-out-free. */
  def sequencePrivateMeta(consensus: DataFrame, sequenceIdentifier: DataFrame,
      viollierTest: DataFrame, swissCanton: DataFrame, bagMeldeformular: DataFrame,
      nextclade: DataFrame, gisaid: DataFrame, spectrumCountry: DataFrame): DataFrame = {
    val byEthid = Window.partitionBy(col("ethid"))
    val w = byEthid.orderBy(col("number_n").asc, col("sample_name").asc)
    val releasedViaEthid = sequenceIdentifier
      .filter(col("gisaid_id").isNotNull && col("ethid").isNotNull)
      .select(col("ethid")).distinct()
      .withColumn("__released_via_ethid", lit(true))
    val idByEthid = sequenceIdentifier
      .filter(col("gisaid_id").isNotNull && col("ethid").isNotNull)
      .groupBy(col("ethid")).agg(min(col("gisaid_id")).as("__ethid_gisaid_id"))
    val deduped = consensus
      .join(sequenceIdentifier.select(col("sample_name"), col("gisaid_id")), Seq("sample_name"), "left")
      .join(releasedViaEthid, Seq("ethid"), "left")
      .withColumn("__rn", row_number().over(w))
      .withColumn("__ethid_released",
        max(col("gisaid_id").isNotNull).over(byEthid)
          || coalesce(col("__released_via_ethid"), lit(false)))
      .filter(
        col("gisaid_id").isNotNull
          || (!col("__ethid_released") && col("__rn") === 1 && col("fail_reason").isNull))
    val own = deduped
      .join(viollierTest, Seq("ethid")) // inner: private meta needs the test row (:331)
      .join(idByEthid, Seq("ethid"), "left")
      .join(broadcast(swissCanton.select(col("canton_code").as("canton"), col("english"))),
        Seq("canton"), "left")
      .join(bagMeldeformular, Seq("sample_number"), "left")
      .join(nextclade.select(col("sample_name"), col("pangolin_lineage").as("__nd_lineage")),
        Seq("sample_name"), "left")
      .select(
        coalesce(col("__ethid_gisaid_id"), concat(lit("UNRELEASED_ETHZ_"), col("ethid"))).as("sequence_name"),
        col("order_date").as("date"),
        lit("Europe").as("region"),
        lit("Switzerland").as("country"),
        coalesce(col("english"), lit("Switzerland")).as("division"),
        col("city").as("location"),
        col("zip_code"),
        lit("Human").as("host"),
        col("altersjahr").as("age"),
        when(col("sex") === "Männlich", "Male")
          .when(col("sex") === "Weiblich", "Female").as("sex"),
        lit("Department of Biosystems Science and Engineering, ETH Zürich").as("submitting_lab"),
        lit("Viollier AG").as("originating_lab"),
        coalesce(col("hospitalisation_type") === "HOSPITALIZED", lit(false)).as("hospitalized"),
        coalesce(col("pttod"), lit(false)).as("deceased"),
        when(col("__nd_lineage") =!= "None", col("__nd_lineage")).as("pangolin_lineage"),
        col("impfstatus").as("vaccination_status"),
        col("dosen_anzahl").as("vaccination_doses"),
        col("impfdatum_dose1").as("vaccination_first_dose_date"),
        col("impfdatum_dose2").as("vaccination_second_dose_date"))
    val foreign = gisaid
      .join(broadcast(spectrumCountry.select(col("iso_code"), col("region").as("__sc_region"),
        col("name").as("__sc_name"))), col("country") === col("iso_code"))
      .filter(
        (!col("strain").like("%-ETHZ-%") || lower(col("originating_lab")) === "labor team w ag")
          && col("host") === "Human" && col("date") >= to_date(lit("2020-01-01")))
      .select(
        col("strain").as("sequence_name"),
        col("date"),
        col("__sc_region").as("region"),
        col("__sc_name").as("country"),
        col("division"),
        col("location"),
        lit(null).cast("string").as("zip_code"),
        col("host"),
        col("age"),
        when(col("sex") === "Male" || col("sex") === "Female", col("sex")).as("sex"),
        col("submitting_lab"),
        col("originating_lab"),
        lit(null).cast("boolean").as("hospitalized"),
        lit(null).cast("boolean").as("deceased"),
        when(col("pango_lineage") =!= "None", col("pango_lineage")).as("pangolin_lineage"),
        lit(null).cast("string").as("vaccination_status"),
        lit(null).cast("int").as("vaccination_doses"),
        lit(null).cast("date").as("vaccination_first_dose_date"),
        lit(null).cast("date").as("vaccination_second_dose_date"))
    own.unionByName(foreign)
  }

  /** View 2 — mutation matviews (:116-178 aa, :182-244 nuc): meta ×
    * mutations with D16 decomposition for AA mutations. */
  def sequenceMutations(meta: DataFrame, mutations: DataFrame, aa: Boolean): DataFrame = {
    val joined = meta.join(mutations, Seq("strain"))
    if (aa)
      joined.withColumn("m", Annotations.decomposeAaMutation(col("aa_mutation")))
        .select(col("strain"), col("country"), col("date"),
          col("m.gene").as("gene"), col("m.position").as("position"),
          col("m.alt_aa").as("alt"), col("aa_mutation").as("mutation"))
    else
      joined.select(col("strain"), col("country"), col("date"),
        col("position"), col("mutation"))
  }

  /** View 3 — `spectrum_sequence_intensity` (:384-427): full date
    * spine × countries, daily sequenced counts vs case counts,
    * `group by rollup(date, region, country)`. */
  def sequenceIntensity(meta: DataFrame, cases: DataFrame,
      countries: DataFrame, startDate: String, endDate: String): DataFrame = {
    val spine = meta.sparkSession.range(1)
      .select(explode(expr(
        s"sequence(to_date('$startDate'), to_date('$endDate'), interval 1 day)")).as("date"))
    val spineCountries = spine.crossJoin(broadcast(countries.select(col("region"), col("country"))))
    val sequencedDaily = meta.groupBy(col("date"), col("country"))
      .agg(count(lit(1)).as("sequenced"))
    val casesDaily = cases.groupBy(col("date"), col("country"))
      .agg(sum(col("new_cases")).as("cases"))
    spineCountries
      .join(sequencedDaily, Seq("date", "country"), "left")
      .join(casesDaily, Seq("date", "country"), "left")
      .rollup(col("date"), col("region"), col("country"))
      .agg(
        sum(coalesce(col("sequenced"), lit(0L))).as("sequenced"),
        sum(coalesce(col("cases"), lit(0L))).as("cases"))
  }

  /** View 4 — `spectrum_pangolin_lineage_mutation` (:435-466): counts
    * by (region, country, date, lineage, mutation). */
  def lineageMutationCounts(meta: DataFrame, mutations: DataFrame,
      countries: DataFrame): DataFrame =
    meta.join(mutations, Seq("strain"))
      .join(broadcast(countries.select(col("region"), col("country"))), Seq("country"), "left")
      .groupBy(col("region"), col("country"), col("date"),
        col("pango_lineage"), col("mutation"))
      .agg(count(lit(1)).as("n"))

  /** View 5 — `spectrum_swiss_cases` (:475-488): BAG dashboard
    * aggregation by date/canton/age group. */
  def swissCases(bagDashboard: DataFrame): DataFrame =
    bagDashboard
      .withColumn("age_group",
        when(col("altersjahr") < 10, "0-9")
          .when(col("altersjahr") < 20, "10-19").when(col("altersjahr") < 30, "20-29")
          .when(col("altersjahr") < 40, "30-39").when(col("altersjahr") < 50, "40-49")
          .when(col("altersjahr") < 60, "50-59").when(col("altersjahr") < 70, "60-69")
          .when(col("altersjahr") < 80, "70-79").otherwise("80+"))
      .groupBy(col("fall_dt").as("date"), col("ktn").as("canton"), col("age_group"))
      .agg(count(lit(1)).as("n_cases"))

  /** Unique-visitors-per-day summary over the usage-by-OS table (ref
    * `spectrum/usage_statistics.sql:53-66`): roll visitors up per day
    * inside the window, then one summary row — day count, mean, and
    * percentile_cont(0.5) median (Spark's exact `percentile`). Two
    * combinable aggregates; the second runs over day-count rows. */
  def usageDailyVisitors(usageOs: DataFrame, startDate: String,
      endDate: String): DataFrame =
    usageOs.filter(col("date").between(startDate, endDate))
      .groupBy(col("date")).agg(sum(col("visitors")).as("visitors"))
      .agg(count(lit(1)).as("number_day"),
        avg(col("visitors")).as("avg_visitors"),
        expr("percentile(visitors, 0.5)").as("median_visitors"))

  /** The four views that read `spectrum_sequence_public_meta`, keyed
    * by their reference matview names. The reference's matviews read
    * the meta matview rather than recomputing it
    * (`spectrum/refreshes.sql:14-36`); the refresh job passes the
    * meta rows it has just staged, so no view re-runs meta's plan. */
  def metaViews(meta: DataFrame, nucMutations: DataFrame, aaMutations: DataFrame,
      cases: DataFrame, countries: DataFrame, startDate: String,
      endDate: String): Map[String, DataFrame] =
    Map(
      "spectrum_sequence_mutation_aa" -> sequenceMutations(meta, aaMutations, aa = true),
      "spectrum_sequence_mutation_nucleotide" -> sequenceMutations(meta, nucMutations, aa = false),
      "spectrum_sequence_intensity" -> sequenceIntensity(meta, cases, countries, startDate, endDate),
      "spectrum_pangolin_lineage_mutation" -> lineageMutationCounts(meta, nucMutations, countries))

  /** The whole DAG, returning every view keyed by its reference
    * matview name, with meta's readers built over meta's own plan. */
  def buildAll(consensus: DataFrame, sequenceIdentifier: DataFrame,
      viollierTest: DataFrame, gisaid: DataFrame, nucMutations: DataFrame,
      aaMutations: DataFrame, cases: DataFrame, countries: DataFrame,
      bagDashboard: DataFrame, startDate: String, endDate: String): Map[String, DataFrame] = {
    val meta = sequencePublicMeta(consensus, sequenceIdentifier, viollierTest, gisaid)
    metaViews(meta, nucMutations, aaMutations, cases, countries, startDate, endDate) ++ Map(
      "spectrum_sequence_public_meta" -> meta,
      "spectrum_swiss_cases" -> swissCases(bagDashboard))
  }
}
