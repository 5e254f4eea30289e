"""Anomaly-detector combinators + the consolidation job (the
reference's data-quality surface), plus the ingest hygiene operators
P8/P9/P10.

Reference (in /root/reference/):
- detector combinators — pipeline-cleaning/R/anomalies_utils.R:2-57
  (detect_duplication, detect_threshold); concrete detectors in
  pipeline-cleaning/R/anomalies_detector/*.R (e.g. safety.R:94-104
  duplication, :168-169 conditional distinct, :204 accuracy
  threshold)
- consolidation — 05.run_anomaly_detection.R:50-104: union all
  detector outputs, all-string + ''-for-NULL, resolution_id =
  '{form_id}__{KEY}__{anomalies_id}', resolution_status='to_do',
  then a (form_id, anomalies_id) count summary with snapshot_date
- P8 column-name normalization — processing_utils.R:42-45 (keep the
  last '-'-segment of the ODK group path)
- P9 drop fully-empty columns — processing_utils.R:147-150
  (janitor::remove_empty 'cols')
- P10 drop rows with NULL key — anomalies_detector/pk.R:98

Spark-first (100 TB): each detector is DataFrame→DataFrame returning
the fixed anomaly schema; union is ``unionByName``; the duplication
detector is one window shuffle; consolidation adds no extra shuffle.
P9 is the only two-pass operator (one agg over the data to find the
empty columns — the count is metadata-sized).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: fixed output schema of every detector
ANOMALY_COLS = ["KEY", "form_id", "anomalies_id", "anomalies_description"]


def detect_duplication(
    df: DataFrame,
    col: str,
    form_id: str,
    anomalies_id: str,
    threshold: int = 2,
    key: str = "KEY",
) -> DataFrame:
    """Rows whose ``col`` value occurs >= threshold times
    (anomalies_utils.R:2-25: group_by %>% mutate(n=n()) %>% filter).
    One window shuffle on ``col``; NULL values never flag."""
    w = Window.partitionBy(col)
    return (
        df.filter(F.col(col).isNotNull())
        .withColumn("n", F.count(F.lit(1)).over(w))
        .filter(F.col("n") >= threshold)
        .select(
            F.col(key).alias("KEY"),
            F.lit(form_id).alias("form_id"),
            F.lit(anomalies_id).alias("anomalies_id"),
            # concat, not format_string: the column NAME is data here,
            # and a name containing '%' must not become a printf spec.
            F.concat(
                F.lit(f"{col}:"), F.col(col).cast("string"),
                F.lit(" duplicated "), F.col("n").cast("string"), F.lit(" times"),
            ).alias("anomalies_description"),
        )
    )


def detect_threshold(
    df: DataFrame,
    col: str,
    form_id: str,
    anomalies_id: str,
    description: str,
    threshold: float,
    direction: str = "more",
    key: str = "KEY",
) -> DataFrame:
    """Rows breaching a threshold (anomalies_utils.R:28-57; e.g. GPS
    Accuracy > 15, safety.R:204). Pure filter — pushes to the scan."""
    if direction not in ("more", "less"):
        raise ValueError(f"unknown direction {direction!r}: use 'more' or 'less'")
    cond = F.col(col) > threshold if direction == "more" else F.col(col) < threshold
    return df.filter(cond).select(
        F.col(key).alias("KEY"),
        F.lit(form_id).alias("form_id"),
        F.lit(anomalies_id).alias("anomalies_id"),
        F.lit(description).alias("anomalies_description"),
    )


def consolidate(detections: Sequence[DataFrame]) -> DataFrame:
    """Union detector outputs into the anomalies_detection contract
    (05.run_anomaly_detection.R:52-65): all-string columns, NULL→'',
    resolution_id = form__KEY__anomaly, resolution_status='to_do'."""
    if not detections:
        raise ValueError("no detections to consolidate")
    out = detections[0]
    for d in detections[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    for c in out.columns:
        out = out.withColumn(c, F.coalesce(F.col(c).cast("string"), F.lit("")))
    out = out.withColumn(
        "resolution_id",
        F.format_string("%s__%s__%s", F.col("form_id"), F.col("KEY"), F.col("anomalies_id")),
    ).withColumn("resolution_status", F.lit("to_do"))
    if "anomalies_reports_to_wid" not in out.columns:
        out = out.withColumn("anomalies_reports_to_wid", F.lit(""))
    return out.select(
        "resolution_id", "KEY", "form_id", "anomalies_id",
        "anomalies_description", "resolution_status", "anomalies_reports_to_wid",
    )


def safety_detector_pack(
    safety: DataFrame, repeat_individual: DataFrame
) -> DataFrame:
    """The full named-rule set of the reference's richest detector
    file, anomalies_detector/safety.R, composed instance-faithfully
    (one output row class per rule) and consolidated into the
    resolution contract:

    - ``hh_visit_already_in_dataset`` (safety.R:94-104): >1 row per
      (visit, hhid), each row flagged with the group's key list.
    - ``hh_detected_multiple_clusters`` (safety.R:108-119): a
      household reporting >1 distinct cluster across its rows.
    - ``hh_more_than_3_members_died_or_migrated`` (safety.R:165-186):
      per (hhid, visit) over the parent-joined repeat_individual
      rows, >3 distinct extids with reason Died or >3 Migrated; one
      row per parent KEY having a non-empty reason, deduplicated.
    - ``hh_more_than_3_members_absent`` (safety.R:184-200): same with
      >3 Absent.
    - ``hh_gps_accuracy_too_high`` (safety.R:202-210): Accuracy > 15.
    - ``hh_outside_cluster`` (safety.R:213-221): geo_cluster_num NULL
      or in the study's excluded-cluster list.

    Inputs use the reference column names: safety(KEY, hhid, visit,
    cluster, wid, accuracy, geo_cluster_num), repeat_individual(
    PARENT_KEY, extid, person_absent_reason).

    Determinism deviations from the R (documented, semantics intact):
    key lists are SORTED-DISTINCT joins (R pastes in frame order,
    which is nondeterministic under partitioning); the accuracy
    description prints floor(accuracy) (printing a raw double is
    engine-dependent formatting, and FLOOR is exact).

    Scale shape: rules 1/2 are one groupBy each on their grain joined
    back to the rows (same single shuffle as a window, without
    carrying the array per row); rules 3/4 share ONE child aggregate;
    5/6 are pure pushed-down filters. Key lists are bounded by group
    size — hot households cap naturally at visit cardinality.
    """
    excluded = [1, 4, 6, 32, 35, 47, 52, 66, 71, 76, 86, 89]

    g1 = safety.groupBy("visit", "hhid").agg(
        F.count(F.lit(1)).alias("n"),
        F.array_join(F.array_sort(F.collect_list("KEY")), ",").alias("key_list"),
    )
    r1 = (
        safety.join(g1.filter(F.col("n") > 1), ["visit", "hhid"])
        .select(
            "KEY",
            F.lit("safety").alias("form_id"),
            F.lit("hh_visit_already_in_dataset").alias("anomalies_id"),
            F.concat(
                F.lit("hhid:"), F.col("hhid"),
                F.lit(" visit:"), F.col("visit").cast("string"),
                F.lit(" already in dataset, please check these keys "),
                F.col("key_list"),
            ).alias("anomalies_description"),
            F.col("wid").alias("anomalies_reports_to_wid"),
        )
    )

    r2 = _multi_cluster_rule(safety, "safety")

    merged = repeat_individual.join(
        safety, repeat_individual["PARENT_KEY"] == safety["KEY"], "inner"
    ).select("PARENT_KEY", "extid", "person_absent_reason", "hhid", "visit", "wid")
    reason = F.col("person_absent_reason")
    grp = merged.groupBy("hhid", "visit").agg(
        F.count_distinct(F.when(reason == "Died", F.col("extid"))).alias("died"),
        F.count_distinct(F.when(reason == "Migrated", F.col("extid"))).alias(
            "migrated"
        ),
        F.count_distinct(F.when(reason == "Absent", F.col("extid"))).alias("absent"),
        F.array_join(
            F.array_sort(F.collect_set(F.when(reason != "", F.col("extid")))), ","
        ).alias("key_list"),
    )
    parents = (
        merged.filter(reason != "")
        .select("hhid", "visit", "PARENT_KEY", "wid")
        .distinct()
    )

    def _leavers(flag, anomalies_id: str, desc) -> DataFrame:
        return parents.join(grp.filter(flag), ["hhid", "visit"]).select(
            F.col("PARENT_KEY").alias("KEY"),
            F.lit("safety").alias("form_id"),
            F.lit(anomalies_id).alias("anomalies_id"),
            desc.alias("anomalies_description"),
            F.col("wid").alias("anomalies_reports_to_wid"),
        )

    r3 = _leavers(
        (F.col("died") > 3) | (F.col("migrated") > 3),
        "hh_more_than_3_members_died_or_migrated",
        F.concat(
            F.lit("hhid:"), F.col("hhid"),
            F.lit(" from visit:"), F.col("visit").cast("string"),
            F.lit(" members "), F.col("died").cast("string"),
            F.lit(" died and "), F.col("migrated").cast("string"),
            F.lit(" migrated, here are the extids: "), F.col("key_list"),
        ),
    )
    r4 = _leavers(
        F.col("absent") > 3,
        "hh_more_than_3_members_absent",
        F.concat(
            F.lit("hhid:"), F.col("hhid"),
            F.lit(" from visit:"), F.col("visit").cast("string"),
            F.lit(" members "), F.col("absent").cast("string"),
            F.lit(" absent, here are the extids: "), F.col("key_list"),
        ),
    )

    r5 = safety.filter(F.col("accuracy") > 15).select(
        "KEY",
        F.lit("safety").alias("form_id"),
        F.lit("hh_gps_accuracy_too_high").alias("anomalies_id"),
        F.concat(
            F.lit("hhid:"), F.col("hhid"),
            F.lit(" gps accuracy too high: "),
            F.floor("accuracy").cast("bigint").cast("string"),
        ).alias("anomalies_description"),
        F.col("wid").alias("anomalies_reports_to_wid"),
    )

    r6 = safety.filter(
        F.col("geo_cluster_num").isNull()
        | F.col("geo_cluster_num").isin(excluded)
    ).select(
        "KEY",
        F.lit("safety").alias("form_id"),
        F.lit("hh_outside_cluster").alias("anomalies_id"),
        F.concat(
            F.lit("hhid:"), F.col("hhid"),
            F.lit(" is outside cluster by geo but entered as cluster:"),
            F.col("cluster").cast("string"),
        ).alias("anomalies_description"),
        F.col("wid").alias("anomalies_reports_to_wid"),
    )

    return consolidate([r1, r2, r3, r4, r5, r6])


def _multi_cluster_rule(df: DataFrame, form_id: str) -> DataFrame:
    """The ``hh_detected_multiple_clusters`` rule shared verbatim by
    five reference detector files (safety.R:108, pk.R:111/124,
    efficacy.R:119, pfu.R:90, safetynew.R:~100): a household reporting
    >1 distinct cluster across its rows, every row flagged with the
    household's sorted key list."""
    g = df.groupBy("hhid").agg(
        F.count_distinct("cluster").alias("n"),
        F.array_join(F.array_sort(F.collect_list("KEY")), ",").alias("key_list"),
    )
    return df.join(g.filter(F.col("n") > 1), ["hhid"]).select(
        "KEY",
        F.lit(form_id).alias("form_id"),
        F.lit("hh_detected_multiple_clusters").alias("anomalies_id"),
        F.concat(
            F.lit("hhid:"), F.col("hhid"),
            F.lit(
                " detected multiple clusters in the same households;"
                " here are the instanceIDs: "
            ),
            F.col("key_list"),
        ).alias("anomalies_description"),
        F.col("wid").alias("anomalies_reports_to_wid"),
    )


def efficacy_detector_pack(efficacy: DataFrame) -> DataFrame:
    """All five named rules of anomalies_detector/efficacy.R:72-130,
    instance-faithful, consolidated. Input columns (reference names):
    KEY, hhid, visit, extid, cluster, wid, control_validity,
    rdt_time_diff (integer minutes), accuracy.

    - ``hh_2_rdt_invalid`` (:72-80): >=2 invalid control_validity
      rows per (visit, hhid) alert the lab.
    - ``hh_rdt_time_diff_less_than_10_mins`` (:86-92).
    - ``ind_visit_already_in_dataset`` (:96-106): duplicate
      (visit, extid), key list per group.
    - ``hh_gps_accuracy_too_high`` (:110-116; printed accuracy is
      floor()ed — same determinism note as safety_detector_pack).
    - ``hh_detected_multiple_clusters`` (:119-129).
    """
    inv = efficacy.filter(F.col("control_validity") == "invalid")
    g1 = inv.groupBy("visit", "hhid").agg(F.count(F.lit(1)).alias("n"))
    r1 = inv.join(g1.filter(F.col("n") >= 2), ["visit", "hhid"]).select(
        "KEY",
        F.lit("efficacy").alias("form_id"),
        F.lit("hh_2_rdt_invalid").alias("anomalies_id"),
        F.concat(
            F.lit("hhid:"), F.col("hhid"),
            F.lit(" from visit:"), F.col("visit").cast("string"),
            F.lit(" has "), F.col("n").cast("string"),
            F.lit(" invalid test from control_validity"),
        ).alias("anomalies_description"),
        F.col("wid").alias("anomalies_reports_to_wid"),
    )
    r2 = efficacy.filter(F.col("rdt_time_diff") < 10).select(
        "KEY",
        F.lit("efficacy").alias("form_id"),
        F.lit("hh_rdt_time_diff_less_than_10_mins").alias("anomalies_id"),
        F.concat(
            F.lit("hhid:"), F.col("hhid"),
            F.lit(" from visit:"), F.col("visit").cast("string"),
            F.lit(" rdt was collected in "),
            F.col("rdt_time_diff").cast("string"),
        ).alias("anomalies_description"),
        F.col("wid").alias("anomalies_reports_to_wid"),
    )
    g3 = efficacy.groupBy("visit", "extid").agg(
        F.count(F.lit(1)).alias("n"),
        F.array_join(F.array_sort(F.collect_list("KEY")), ",").alias("key_list"),
    )
    r3 = efficacy.join(g3.filter(F.col("n") > 1), ["visit", "extid"]).select(
        "KEY",
        F.lit("efficacy").alias("form_id"),
        F.lit("ind_visit_already_in_dataset").alias("anomalies_id"),
        F.concat(
            F.lit("hhid:"), F.col("hhid"),
            F.lit(" extid:"), F.col("extid"),
            F.lit(", visit:"), F.col("visit").cast("string"),
            F.lit(" already in dataset; here are the instanceIDs: "),
            F.col("key_list"),
        ).alias("anomalies_description"),
        F.col("wid").alias("anomalies_reports_to_wid"),
    )
    r4 = efficacy.filter(F.col("accuracy") > 15).select(
        "KEY",
        F.lit("efficacy").alias("form_id"),
        F.lit("hh_gps_accuracy_too_high").alias("anomalies_id"),
        F.concat(
            F.lit("hhid:"), F.col("hhid"),
            F.lit(" from visit:"), F.col("visit").cast("string"),
            F.lit(" gps accuracy too high: "),
            F.floor("accuracy").cast("bigint").cast("string"),
        ).alias("anomalies_description"),
        F.col("wid").alias("anomalies_reports_to_wid"),
    )
    r5 = _multi_cluster_rule(efficacy, "efficacy")
    return consolidate([r1, r2, r3, r4, r5])


def pfu_detector_pack(pfu: DataFrame) -> DataFrame:
    """Both active rules of anomalies_detector/pfu.R:77-101:
    ``extid_visit_already_in_dataset`` (duplicate (visit, hhid); the
    reference prints the hhid in the extid description slot —
    preserved verbatim, downstream tooling parses that format) and
    ``hh_detected_multiple_clusters``."""
    g = pfu.groupBy("visit", "hhid").agg(
        F.count(F.lit(1)).alias("n"),
        F.array_join(F.array_sort(F.collect_list("KEY")), ",").alias("key_list"),
    )
    r1 = pfu.join(g.filter(F.col("n") > 1), ["visit", "hhid"]).select(
        "KEY",
        F.lit("pfu").alias("form_id"),
        F.lit("extid_visit_already_in_dataset").alias("anomalies_id"),
        F.concat(
            F.lit("extid:"), F.col("hhid"),
            F.lit(" visit:"), F.col("visit").cast("string"),
            F.lit(" already in dataset, please check these keys "),
            F.col("key_list"),
        ).alias("anomalies_description"),
        F.col("wid").alias("anomalies_reports_to_wid"),
    )
    return consolidate([r1, _multi_cluster_rule(pfu, "pfu")])


def safetynew_detector_pack(
    safetynew: DataFrame, repeat_individual: DataFrame
) -> DataFrame:
    """All four active rules of anomalies_detector/safetynew.R:
    ``ind_visit_already_in_dataset`` over the parent-joined individual
    rows (duplicate (visit, extid); the reference's 'exitd:' typo in
    the description is preserved), ``hh_detected_multiple_clusters``,
    ``hh_gps_accuracy_too_high`` and ``hh_outside_cluster`` on the
    parent form. Inputs: safetynew(KEY, hhid, visit, cluster, wid,
    accuracy, geo_cluster_num), repeat_individual(KEY, PARENT_KEY,
    extid) — the merged frame keeps the CHILD's KEY, as dplyr's
    by=c('PARENT_KEY'='KEY') join does."""
    excluded = [1, 4, 6, 32, 35, 47, 52, 66, 71, 76, 86, 89]
    merged = repeat_individual.join(
        safetynew.withColumnRenamed("KEY", "PARENT_KEY"), ["PARENT_KEY"]
    )
    g1 = merged.groupBy("visit", "extid").agg(
        F.count(F.lit(1)).alias("n"),
        F.array_join(F.array_sort(F.collect_list("KEY")), ",").alias("key_list"),
    )
    r1 = merged.join(g1.filter(F.col("n") > 1), ["visit", "extid"]).select(
        "KEY",
        F.lit("safetynew").alias("form_id"),
        F.lit("ind_visit_already_in_dataset").alias("anomalies_id"),
        F.concat(
            F.lit("exitd:"), F.col("extid"),
            F.lit(" visit:"), F.col("visit").cast("string"),
            F.lit(" already in dataset, please check these keys "),
            F.col("key_list"),
        ).alias("anomalies_description"),
        F.col("wid").alias("anomalies_reports_to_wid"),
    )
    r3 = safetynew.filter(F.col("accuracy") > 15).select(
        "KEY",
        F.lit("safetynew").alias("form_id"),
        F.lit("hh_gps_accuracy_too_high").alias("anomalies_id"),
        F.concat(
            F.lit("hhid:"), F.col("hhid"),
            F.lit(" gps accuracy too high: "),
            F.floor("accuracy").cast("bigint").cast("string"),
        ).alias("anomalies_description"),
        F.col("wid").alias("anomalies_reports_to_wid"),
    )
    r4 = safetynew.filter(
        F.col("geo_cluster_num").isNull()
        | F.col("geo_cluster_num").isin(excluded)
    ).select(
        "KEY",
        F.lit("safetynew").alias("form_id"),
        F.lit("hh_outside_cluster").alias("anomalies_id"),
        F.concat(
            F.lit("hhid:"), F.col("hhid"),
            F.lit(" is outside cluster by geo but entered as cluster:"),
            F.col("cluster").cast("string"),
        ).alias("anomalies_description"),
        F.col("wid").alias("anomalies_reports_to_wid"),
    )
    return consolidate(
        [r1, _multi_cluster_rule(safetynew, "safetynew"), r3, r4]
    )


def v0_detector_pack(
    demography: DataFrame, repeat_individual: DataFrame
) -> DataFrame:
    """All five rules of anomalies_detector/v0.R:55-115, built from
    the same detect_threshold / detect_duplication combinators the
    reference composes (anomalies_utils.R:2-56):

    - ``hh_strange_materials``: mud walls + concrete roof.
    - ``hh_completed_in_less_than_4_mins``: duration = end_time -
      start_time in whole minutes, threshold 4 (constant description,
      per detect_threshold's contract).
    - ``hh_duplicated``: detect_duplication on hhid.
    - ``hh_gps_accuracy_too_high``: Accuracy > 15.
    - ``hh_individual_age_too_high`` on the repeat-individual child:
      age > 101.

    v0.R's final columns carry no wid — consolidate() fills ''.
    """
    r1 = demography.filter(
        (F.col("house_wall") == "mud") & (F.col("house_roof") == "concrete")
    ).select(
        "KEY",
        F.lit("v0demography").alias("form_id"),
        F.lit("hh_strange_materials").alias("anomalies_id"),
        F.lit(
            "household strange materials combination, house_wall=mud"
            " and house_roof=concrete"
        ).alias("anomalies_description"),
    )
    timed = demography.withColumn(
        "duration",
        # integer DIV, not float-divide-then-cast: Spark's cast
        # truncates but DuckDB's rounds (hazards catalog)
        F.expr(
            "CAST((unix_micros(end_time) - unix_micros(start_time))"
            " DIV 60000000 AS INT)"
        ),
    )
    r2 = detect_threshold(
        timed, "duration", "v0demography",
        "hh_completed_in_less_than_4_mins",
        "household completed in less than 4 mins (end_time - start_time)",
        4, "less",
    )
    r3 = detect_duplication(demography, "hhid", "v0demography", "hh_duplicated")
    r4 = detect_threshold(
        demography, "Accuracy", "v0demography", "hh_gps_accuracy_too_high",
        "household GPS accuracy too high", 15.0, "more",
    )
    r5 = detect_threshold(
        repeat_individual, "age", "v0demography-repeat_individual",
        "hh_individual_age_too_high",
        "household repeat individual age more than 100", 101, "more",
    )
    return consolidate([r1, r2, r3, r4, r5])


def pk_detector_pack(
    pkday0: DataFrame, pkdays123: DataFrame, pkfollowup: DataFrame
) -> DataFrame:
    """All seven named rules of anomalies_detector/pk.R (pk.R:97-205),
    composed instance-faithfully over the three linked PK forms and
    consolidated into the resolution contract:

    - ``pk_id_duplicates`` on pkday0 (pk.R:97-108): non-NULL pk_id
      occurring >1 time, each row flagged with the group's key list.
    - ``hh_detected_multiple_clusters`` on pkday0 AND pkdays123
      (pk.R:111-135): household reporting >1 distinct cluster.
    - ``pk_id_duplicates`` on pkdays123 (pk.R:138-150): duplicates at
      the finer (pk_id, visit_day) grain.
    - ``pkfollowup_id_duplicates`` (pk.R:153-165).
    - ``pkdays123_mapping_mistmach`` / ``pkdfollowup_mapping_mistmach``
      (pk.R:172-205; the reference's typo'd rule ids are preserved —
      downstream resolution files key on them): pkday0's distinct
      (extid, pk_id) is the mapping source of truth; a row whose
      extid disagrees with the mapped extid flags when its pk_id has
      >1 such disagreeing row.

    Inputs use the reference column names: pkday0(KEY, hhid, cluster,
    wid, pk_id, extid), pkdays123(same + visit_day), pkfollowup(KEY,
    wid, pk_id, extid). Key lists are sorted joins (determinism
    deviation, as in safety_detector_pack).

    Scale shape: every rule is one groupBy on its grain joined back to
    the rows; the mapping join is a broadcast (the source of truth is
    participant-sized, not visit-sized).
    """

    def dup_rule(df, group_cols, form_id, anomalies_id):
        nn = df.filter(F.col("pk_id").isNotNull())
        g = nn.groupBy(*group_cols).agg(
            F.count(F.lit(1)).alias("n"),
            F.array_join(F.array_sort(F.collect_list("KEY")), ",").alias(
                "key_list"
            ),
        )
        return nn.join(g.filter(F.col("n") > 1), list(group_cols)).select(
            "KEY",
            F.lit(form_id).alias("form_id"),
            F.lit(anomalies_id).alias("anomalies_id"),
            F.concat(
                F.lit("pk_id:"), F.col("pk_id"),
                F.lit(" has duplicates, please check these keys "),
                F.col("key_list"),
            ).alias("anomalies_description"),
            F.col("wid").alias("anomalies_reports_to_wid"),
        )

    mapping = (
        pkday0.filter(F.col("pk_id").isNotNull())
        .select(F.col("extid").alias("extid_truth"), "pk_id")
        .distinct()
    )

    def mapping_mismatch(df, form_id, anomalies_id):
        rows = df.select("KEY", "extid", "pk_id", "wid").distinct()
        j = rows.join(F.broadcast(mapping), "pk_id", "left").filter(
            F.col("extid") != F.col("extid_truth")
        )
        g = j.groupBy("pk_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.array_join(F.array_sort(F.collect_list("KEY")), ",").alias(
                "key_list"
            ),
        )
        return j.join(g.filter(F.col("n") > 1), ["pk_id"]).select(
            "KEY",
            F.lit(form_id).alias("form_id"),
            F.lit(anomalies_id).alias("anomalies_id"),
            F.concat(
                F.lit("pk_id:"), F.col("pk_id"),
                F.lit(" is mapped to different extids:"), F.col("extid"),
                F.lit(" and "), F.col("extid_truth"),
                F.lit(", please check these keys "), F.col("key_list"),
            ).alias("anomalies_description"),
            F.col("wid").alias("anomalies_reports_to_wid"),
        )

    return consolidate(
        [
            dup_rule(pkday0, ["pk_id"], "pkday0", "pk_id_duplicates"),
            _multi_cluster_rule(pkday0, "pkday0"),
            _multi_cluster_rule(pkdays123, "pkdays123"),
            dup_rule(
                pkdays123, ["pk_id", "visit_day"], "pkdays123",
                "pk_id_duplicates",
            ),
            dup_rule(
                pkfollowup, ["pk_id"], "pkfollowup",
                "pkfollowup_id_duplicates",
            ),
            mapping_mismatch(
                pkdays123, "pkdays123", "pkdays123_mapping_mistmach"
            ),
            mapping_mismatch(
                pkfollowup, "pkfollowup", "pkdfollowup_mapping_mistmach"
            ),
        ]
    )


def summary_rollup(final: DataFrame) -> DataFrame:
    """A13: per-(form_id, anomalies_id) counts + snapshot_date
    (05.run_anomaly_detection.R:91-96), the 'faster query' table."""
    return (
        final.groupBy("form_id", "anomalies_id")
        .agg(F.count(F.lit(1)).alias("anomalies_count"))
        .withColumn("snapshot_date", F.current_date())
    )


# ---------------------------------------------------------------------------
# P8 / P9 / P10 — ingest hygiene
# ---------------------------------------------------------------------------


def normalize_column_names(df: DataFrame) -> DataFrame:
    """P8: ODK exports name columns with the full group path
    ('group-subgroup-field'); keep the last '-'-segment
    (processing_utils.R:42-45). Collisions keep the first occurrence
    suffix-free and disambiguate later ones with _2, _3…"""
    new_names: list[str] = []
    taken: set[str] = set()
    for c in df.columns:
        base = c.split("-")[-1]
        name, k = base, 1
        # bump the suffix until free — a naive base_2 can itself
        # collide with a real column named base_2.
        while name in taken:
            k += 1
            name = f"{base}_{k}"
        taken.add(name)
        new_names.append(name)
    return df.toDF(*new_names)


def drop_empty_columns(df: DataFrame) -> DataFrame:
    """P9: drop columns that are entirely NULL (janitor::remove_empty,
    processing_utils.R:147-150). Two-pass: one count-agg (metadata
    sized), then a select.

    Scale note: the count-agg is a FULL extra scan of every column —
    the reference semantics genuinely require a data pass. At 100 TB,
    run this after PII drop / projection on the (much narrower)
    serving columns, or replace with schema-registry nullability hints
    when the form metadata already declares dead columns."""
    counts = df.agg(
        *[F.count(F.col(f"`{c}`")).alias(c) for c in df.columns]
    ).collect()[0]
    keep = [c for c in df.columns if counts[c] > 0]
    return df.select(*[F.col(f"`{c}`") for c in keep])


def drop_na_keys(df: DataFrame, subset: Sequence[str]) -> DataFrame:
    """P10: drop rows with NULL in any key column
    (tidyr::drop_na(pk_id), anomalies_detector/pk.R:98)."""
    return df.na.drop(subset=list(subset))


def detect_inconsistent_group(
    df: DataFrame,
    group_col: str,
    value_col: str,
    form_id: str,
    anomalies_id: str,
    key: str = "KEY",
) -> DataFrame:
    """Groups whose members disagree on a value that should be constant
    — the 'household reports multiple clusters' detector
    (anomalies_detector/safety.R:108-116: group_by(hhid) %>%
    filter(n_distinct(cluster) > 1), description carries the sorted
    member-key list).

    Emits ONE anomaly row per offending group (keyed by the group,
    like the reference) with the sorted instance keys in the
    description. One groupBy shuffle; NULL group keys never flag.
    """
    agg = (
        df.filter(F.col(group_col).isNotNull())
        .groupBy(group_col)
        .agg(
            # + max(isnull): R's n_distinct counts NA as a value, so a
            # group with {NULL, '5'} DISAGREES — countDistinct alone
            # ignores NULLs and would silently pass it
            (
                F.countDistinct(F.col(value_col))
                + F.max(F.col(value_col).isNull().cast("int"))
            ).alias("_nv"),
            F.array_join(F.array_sort(F.collect_set(F.col(key).cast("string"))), ", ").alias(
                "_keys"
            ),
        )
        .filter(F.col("_nv") > 1)
    )
    return agg.select(
        F.col(group_col).cast("string").alias("KEY"),
        F.lit(form_id).alias("form_id"),
        F.lit(anomalies_id).alias("anomalies_id"),
        F.concat(
            F.lit(f"{group_col}:"), F.col(group_col).cast("string"),
            F.lit(f" has multiple {value_col} values; here are the instanceIDs: "),
            F.col("_keys"),
        ).alias("anomalies_description"),
    )


def data_dictionary(df: DataFrame, columns: Sequence[str] | None = None) -> DataFrame:
    """One profiling row PER COLUMN: (column, dtype, n_rows, n_null,
    n_distinct, min_value, max_value as strings) — the engine-side
    generator of the reference's data-dictionary artifact
    (pipeline-data-dict/R/generate.R builds it from XLSForm metadata;
    a lakehouse derives it from the data so drift shows up).

    ONE aggregation pass computes every column's stats side by side
    (a single Aggregate over count/min/max/approx-free countDistinct
    expressions), then a literal explode transposes the 1-row result
    into the per-column table — no per-column scans, no collect.
    """
    cols = list(columns) if columns is not None else list(df.columns)
    aggs = []
    for c in cols:
        # min/max in the column's NATIVE ordering, cast to string only
        # for the uniform artifact schema (string-min of numerics would
        # be lexicographic: '9' > '10')
        aggs += [
            F.count(F.lit(1)).alias(f"__rows_{c}"),
            F.coalesce(F.sum(F.col(c).isNull().cast("long")), F.lit(0)).alias(
                f"__null_{c}"
            ),
            F.countDistinct(F.col(c)).alias(f"__dist_{c}"),
            F.min(F.col(c)).cast("string").alias(f"__min_{c}"),
            F.max(F.col(c)).cast("string").alias(f"__max_{c}"),
        ]
    one = df.agg(*aggs)
    dtypes = dict(df.dtypes)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.lit(dtypes[c]).alias("dtype"),
                F.col(f"__rows_{c}").cast("bigint").alias("n_rows"),
                F.col(f"__null_{c}").cast("bigint").alias("n_null"),
                F.col(f"__dist_{c}").cast("bigint").alias("n_distinct"),
                F.col(f"__min_{c}").alias("min_value"),
                F.col(f"__max_{c}").alias("max_value"),
            )
            for c in cols
        ]
    )
    return one.select(F.explode(rows).alias("d")).select("d.*")


# ---------------------------------------------------------------------------
# Declarative expectations (Deequ/dbt-test-style validation): a rule
# list checked in as few passes as the rule kinds allow. The
# reference's anomaly detectors (above) FLAG rows for human
# resolution; expectations GATE a load — "fail the batch if any rule
# fails" — the other half of a production data-quality surface.
#
# Scale shape: every row-level rule folds into ONE aggregation over
# the data (a conditional SUM per rule — no per-rule scan);
# uniqueness rules add one COUNT(*) vs COUNT(DISTINCT) aggregate
# each; foreign-key rules add one semi-join-shaped conditional count
# against the (broadcast) reference keys. A 12-rule suite over 100 TB
# is 1 + #unique + #fk passes, not 12.
# ---------------------------------------------------------------------------


def expect_not_null(column: str) -> dict:
    return {
        "kind": "row", "rule": "not_null", "column": column,
        "ok": F.col(column).isNotNull(),
    }


def expect_in_range(column: str, lo, hi) -> dict:
    """NULLs pass (compose with expect_not_null to forbid them)."""
    c = F.col(column)
    return {
        "kind": "row", "rule": f"in_range[{lo},{hi}]", "column": column,
        "ok": c.isNull() | ((c >= lo) & (c <= hi)),
    }


def expect_values_in(column: str, values: Sequence) -> dict:
    c = F.col(column)
    return {
        "kind": "row", "rule": "values_in[" + ",".join(map(str, values)) + "]",
        "column": column, "ok": c.isNull() | c.isin(list(values)),
    }


def expect_regex(column: str, pattern: str) -> dict:
    c = F.col(column)
    return {
        "kind": "row", "rule": f"regex[{pattern}]", "column": column,
        "ok": c.isNull() | c.rlike(pattern),
    }


def expect_condition(name: str, column: str, ok: Column) -> dict:
    """Escape hatch: any row-level Column predicate (TRUE == ok).
    A NULL-evaluating predicate counts as a VIOLATION in both
    check_expectations and quarantine_split (coalesce-to-False)."""
    return {"kind": "row", "rule": name, "column": column, "ok": ok}


def expect_unique(*columns: str) -> dict:
    """SQL UNIQUE-constraint convention: rows with a NULL in any key
    column are EXEMPT (multiple NULLs never violate) — matching the
    COUNT(*) - COUNT(DISTINCT key) SQL mirror, where the NULL rows
    fall out of both sides."""
    return {"kind": "unique", "rule": "unique", "column": ",".join(columns),
            "columns": list(columns)}


def expect_foreign_key(column: str, ref: DataFrame, ref_column: str) -> dict:
    """NULLs pass (SQL FK convention)."""
    return {"kind": "fk", "rule": f"foreign_key[{ref_column}]",
            "column": column, "ref": ref, "ref_column": ref_column}


def check_expectations(df: DataFrame, rules: Sequence[dict]) -> DataFrame:
    """Run a rule suite; returns (rule, column, n_violations, n_rows,
    passed) — one row per rule, n_rows the checked table's row count.
    Deterministic and engine-portable: every count is a plain
    aggregate (the registered oracle mirrors the whole suite in SQL).
    """
    if not rules:
        raise ValueError("check_expectations needs at least one rule")
    outs: list[DataFrame] = []
    row_rules = [r for r in rules if r["kind"] == "row"]
    if row_rules:
        aggs = [F.count(F.lit(1)).cast("long").alias("__n")]
        for i, r in enumerate(row_rules):
            # coalesce(ok, False): a NULL-evaluating predicate is a
            # VIOLATION — the same convention quarantine_split uses to
            # route rows, so the two APIs never disagree on a rule.
            # Built-in rules are null-safe (explicit isNull branches),
            # so this only affects custom expect_condition predicates.
            aggs.append(
                F.sum(F.when(~F.coalesce(r["ok"], F.lit(False)), 1).otherwise(0))
                .cast("long")
                .alias(f"__v{i}")
            )
        one = df.agg(*aggs)
        pairs = F.array(
            *[
                F.struct(
                    F.lit(r["rule"]).alias("rule"),
                    F.lit(r["column"]).alias("column"),
                    F.col(f"__v{i}").alias("n_violations"),
                )
                for i, r in enumerate(row_rules)
            ]
        )
        outs.append(
            one.select(F.explode(pairs).alias("p"), F.col("__n").alias("n_rows"))
            .select("p.rule", "p.column", "p.n_violations", "n_rows")
        )
    for r in rules:
        if r["kind"] == "unique":
            all_set = None
            for c in r["columns"]:
                nn = F.col(c).isNotNull()
                all_set = nn if all_set is None else (all_set & nn)
            combo = F.when(all_set, F.struct(*[F.col(c) for c in r["columns"]]))
            outs.append(
                df.agg(
                    # count_distinct skips the NULL combo (NULL-keyed
                    # rows exempt), so subtract only non-null-keyed rows
                    (
                        F.sum(F.when(all_set, 1).otherwise(0))
                        - F.count_distinct(combo)
                    )
                    .cast("long")
                    .alias("n_violations"),
                    F.count(F.lit(1)).cast("long").alias("n_rows"),
                ).select(
                    F.lit(r["rule"]).alias("rule"),
                    F.lit(r["column"]).alias("column"),
                    "n_violations",
                    "n_rows",
                )
            )
        elif r["kind"] == "fk":
            keys = r["ref"].select(F.col(r["ref_column"]).alias("__k")).distinct()
            c = F.col(r["column"])
            joined = df.join(F.broadcast(keys), c == F.col("__k"), "left")
            outs.append(
                joined.agg(
                    F.sum(
                        F.when(c.isNotNull() & F.col("__k").isNull(), 1).otherwise(0)
                    )
                    .cast("long")
                    .alias("n_violations"),
                    F.count(F.lit(1)).cast("long").alias("n_rows"),
                ).select(
                    F.lit(r["rule"]).alias("rule"),
                    F.lit(r["column"]).alias("column"),
                    "n_violations",
                    "n_rows",
                )
            )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.withColumn("passed", F.col("n_violations") == 0)


def quarantine_split(
    df: DataFrame, rules: Sequence[dict]
) -> tuple[DataFrame, DataFrame]:
    """Dead-letter ingestion split: ``(good, quarantined)`` where a
    row is quarantined with the FIRST failing row-level rule's name
    (ordered triage, like the correction engine's ordered case_when),
    and ``good`` rows pass every rule.

    Takes the same rule dicts as :func:`check_expectations` (row-level
    kinds only — uniqueness/FK are table-level facts, not per-row
    routing decisions; ValueError otherwise). Both outputs derive from
    ONE scan each (the reason chain is a single when-cascade; no
    per-rule pass), and the split is a filter — it pushes down to the
    scan on both branches.
    """
    bad_kinds = [r["rule"] for r in rules if r["kind"] != "row"]
    if bad_kinds:
        raise ValueError(
            f"quarantine_split takes row-level rules only, got: {bad_kinds}"
        )
    reason = F.lit(None).cast("string")
    # build in reverse so the FIRST rule in the list wins the chain
    for r in reversed(rules):
        reason = F.when(~F.coalesce(r["ok"], F.lit(False)), r["rule"]).otherwise(reason)
    tagged = df.withColumn("quarantine_reason", reason)
    good = tagged.filter(F.col("quarantine_reason").isNull()).drop("quarantine_reason")
    bad = tagged.filter(F.col("quarantine_reason").isNotNull())
    return good, bad


def group_quantile_gate(
    df: DataFrame,
    group_col: str,
    score_col: str,
    q: float = 0.25,
) -> tuple[DataFrame, DataFrame]:
    """Per-group quantile floor: keep rows whose ``score_col`` is at or
    above their OWN group's ``q``-quantile — the stratified form of a
    quality cutoff. A single global threshold lets one strong domain
    crowd out every other (the FineWeb-class ablation result); gating
    each stratum against itself removes each domain's worst tail while
    preserving the mix. The reference's analogue is its per-form
    accuracy thresholds (anomalies_utils.R:44-57 detect_threshold,
    one hand-set bound per form); this is the self-calibrating version
    a many-domain corpus needs.

    Returns ``(kept, report)``: ``kept`` is the filtered ``df`` (all
    original columns); ``report`` is one row per group —
    ``(group, threshold, n_total, n_kept, kept_share_ppm)`` with the
    exact (interpolated) quantile and integer-exact shares.

    Scale: thresholds come from one exact-``percentile`` aggregation
    (Spark's sort-based exact percentile over each group's values —
    group cardinality is the domain count, tiny); the per-group
    threshold frame is broadcast into the gating join, so the fact is
    scanned once and never shuffled on the group key a second time.

    The gating join is NULL-safe (``eqNullSafe``): a NULL group is a
    real stratum with its own threshold, exactly as GROUP BY treats
    it — a plain equi-join would silently drop every NULL-group row
    (the same contract :func:`~.clean.suppress_small_groups`
    documents). Internal join columns carry a ``__gq_`` prefix so a
    user column named ``group``/``threshold`` survives untouched.

    Zero-kept groups STILL get a report row (ADVICE r11): the report
    left-joins thresholds to kept-counts, so a group whose every row
    fell below its threshold appears with ``n_kept = 0`` instead of
    vanishing. One such group exists by construction: a group whose
    ``score_col`` is entirely NULL gets a NULL quantile threshold, so
    ``score >= NULL`` keeps none of its rows — that group reports
    ``(threshold = NULL, n_kept = 0)``, making the silent-drop visible
    to the caller rather than invisible.
    """
    thr = df.groupBy(F.col(group_col).alias("__gq_group")).agg(
        F.percentile(F.col(score_col), F.lit(float(q))).alias("__gq_threshold"),
        F.count(F.lit(1)).alias("__gq_n_total"),
    )
    kept = df.join(
        F.broadcast(thr.select("__gq_group", "__gq_threshold")),
        df[group_col].eqNullSafe(F.col("__gq_group")),
    ).filter(F.col(score_col) >= F.col("__gq_threshold"))
    kept_df = kept.drop("__gq_group", "__gq_threshold")
    # counted's lineage includes thr (via the gating join), so joining
    # the two on a same-named column is ambiguous to Catalyst — give
    # the kept-count side its own key name
    counted = kept.groupBy(
        F.col("__gq_group").alias("__gq_group_k")
    ).agg(F.count(F.lit(1)).alias("__gq_n_kept"))
    report = (
        thr.join(
            F.broadcast(counted),
            F.col("__gq_group").eqNullSafe(F.col("__gq_group_k")),
            "left",
        )
        .select(
            F.col("__gq_group").alias("group"),
            F.round("__gq_threshold", 4).alias("threshold"),
            F.col("__gq_n_total").cast("bigint").alias("n_total"),
            F.coalesce(F.col("__gq_n_kept"), F.lit(0))
            .cast("bigint")
            .alias("n_kept"),
            F.expr("(coalesce(__gq_n_kept, 0) * 1000000) div __gq_n_total")
            .cast("bigint")
            .alias("kept_share_ppm"),
        )
    )
    return kept_df, report
