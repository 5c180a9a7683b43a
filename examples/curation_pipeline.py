"""Curation pipeline: the training-data workflow end-to-end.

    python examples/curation_pipeline.py [sf_dir]

Chains the north-star operator families over the fixture corpus the
way a 100 TB pretraining-data pipeline would (each stage is one of the
graded operators — this file only composes them):

  1. corpus profile        (q225 dataset card)
  2. quality gates         (q93 Gopher rules + q38 ratios)
  3. exact dedup           (q12 sha2 groupBy)
  4. near-dup dedup        (q44 MinHash-LSH band join + exact verify)
  5. decontamination       (q65 benchmark n-gram overlap)
  6. leakage-safe split    (q73 stratified temporal split on events;
                            q243 cross-split exact-dup audit on docs)
  7. token packing         (q79 first-fit into fixed budgets)
  8. decontam strictness   (q358 n-gram-length sweep advisor)
  9. target selection      (q350 DSIR importance resampling)
 10. semantic dedup advice (q346 SemDeDup curve on IVF cells)
 11. mixture reweighting   (q356 DoReMi exponentiated-gradient step)
 12. privacy triad         (q276 k-anon + q345 l-div + q355 t-close)
 13. anytime-valid monitors (q367 e-process A/B + q368 drift e-detector)

Every stage prints a one-line summary; the whole run is lazy Spark
jobs over parquet — nothing is collected except the tiny summaries.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from generative_ai_vector_db_spark.operators import (  # noqa: E402
    corpus,
    dedup,
    quality,
    relational,
    temporal,
    text,
    vector,
)
from generative_ai_vector_db_spark.session import get_session  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_session(
        app_name="curation-pipeline", master="local[4]", shuffle_partitions=4
    )
    spark.sparkContext.setLogLevel("ERROR")

    card = corpus.q225_dataset_card(spark, sf_dir).toPandas()
    print(f"[1] dataset card: {len(card)} metrics rows")

    gates = quality.q93_gopher_quality(spark, sf_dir).toPandas()
    print(
        f"[2] gopher gates: {int(gates['keep'].sum())}/{len(gates)} docs kept"
    )

    exact = relational.q12_dedup_exact(spark, sf_dir).toPandas()
    print(f"[3] exact dedup: {len(exact)} duplicate-hash groups")

    near = dedup.q44_minhash_neardup(spark, sf_dir).toPandas()
    print(f"[4] minhash near-dups: {len(near)} verified pairs")

    contam = text.q65_contamination(spark, sf_dir).toPandas()
    print(f"[5] decontamination: {len(contam)} flagged docs")

    split = temporal.q73_temporal_split(spark, sf_dir).toPandas()
    leak = quality.q243_split_leakage(spark, sf_dir).toPandas()
    print(
        f"[6] temporal split: {len(split)} (stratum, split) cells; "
        f"exact-dup leakage: "
        + ", ".join(f"{r.split}={r.leak_pct}%" for r in leak.itertuples())
    )

    packed = corpus.q79_token_packing(spark, sf_dir).toPandas()
    print(f"[7] token packing: {len(packed)} packed sequences/bins")

    strict = corpus.q358_decontam_curve(spark, sf_dir).toPandas()
    print(
        "[8] decontam strictness: "
        + ", ".join(
            f"n={int(r.n)}->{int(r.n_flagged)} flagged"
            for r in strict.itertuples()
        )
    )

    dsir = corpus.q350_dsir_importance(spark, sf_dir).toPandas()
    print(
        f"[9] DSIR selection: top-{len(dsir)} docs, "
        f"{int((dsir['lang'] == corpus.DSIR_TARGET_LANG).sum())} target-lang"
    )

    sem = vector.q346_semdedup_cells(spark, sf_dir).toPandas()
    print(
        "[10] SemDeDup curve (IVF cells): "
        + ", ".join(
            f"tau={r.tau}->{int(r.docs_removed)} removed"
            for r in sem.itertuples()
        )
    )

    doremi = corpus.q356_doremi_step(spark, sf_dir).toPandas()
    up = doremi[doremi["mult"] > 1.0]
    print(
        f"[11] DoReMi step: {len(up)}/{len(doremi)} sources upweighted "
        f"(max mult {doremi['mult'].max():.3f})"
    )

    tclose = quality.q355_tcloseness_audit(spark, sf_dir).toPandas()
    print(
        "[12] t-closeness: "
        + ", ".join(
            f"t={r.t}->{int(r.n_violating)} classes violate"
            for r in tclose.itertuples()
        )
    )

    # 13. anytime-valid monitoring (r13): the pipeline runs daily, so
    # its health checks must stay valid under daily peeking — the
    # e-process pair (q367 A/B mix, q368 value drift vs the reference
    # week) alerts the day the Ville boundary is crossed, at any
    # stopping rule.
    from generative_ai_vector_db_spark.operators import stats

    ab = stats.q367_anytime_ab_monitor(spark, sf_dir).toPandas()
    drift = stats.q368_drift_edetector(spark, sf_dir).toPandas()

    def _first_alert(df):
        hit = df[df["rejected"] == 1]
        return hit.iloc[0]["day"] if len(hit) else "never"

    print(
        f"[13] anytime-valid monitors: A/B mix alert={_first_alert(ab)} "
        f"(final log E={ab['log_e'].iloc[-1]:.3f}), value-drift "
        f"alert={_first_alert(drift)} "
        f"(final log E={drift['log_e'].iloc[-1]:.3f})"
    )

    # 13b. the same drift monitor as you would DEPLOY it (r14): a
    # maintenance stream absorbs event files per micro-batch into
    # per-day integer partials; reading the monitor after any trigger
    # gives the exact batch table — validity at any stopping rule is
    # the whole point of the e-process.
    import tempfile

    from pyspark.sql import functions as F

    from generative_ai_vector_db_spark.operators import indexes
    from generative_ai_vector_db_spark.tables import load

    with tempfile.TemporaryDirectory() as tmp:
        src, ck = f"{tmp}/src", f"{tmp}/ck"
        ev = load(spark, sf_dir, "events")
        indexes.create_index(spark, tmp, "mon", "drift_monitor", ev.limit(0))
        for s in (0, 1, 2):  # days interleave across micro-batches
            ev.where(F.col("event_id") % 3 == s).coalesce(1).write.mode(
                "append"
            ).parquet(src)
        indexes.run_index_stream(
            spark, tmp, "mon", src, ck, max_files_per_trigger=1
        )
        live = indexes.read_index(spark, tmp, "mon").toPandas()
        same = live[["day", "n_t", "log_e", "rejected"]].equals(
            drift[["day", "n_t", "log_e", "rejected"]]
        )
        print(
            f"[13b] streaming drift monitor: {len(live)} monitored days "
            f"across 3 micro-batches; equals batch table: {same}"
        )

    spark.stop()
    print("curation pipeline complete")


if __name__ == "__main__":
    main()
