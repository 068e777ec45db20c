"""Isolated per-entry profiling probes (guide §1: measure first).

    python tools/profile_entry.py <probe> [...]

Each probe reproduces ONE bench entry (or a sub-stage of it) through
the noop sink so the computation is timed, not the sink, with
setJobDescription labels. Times print per attempt — min is the number
of record. This is a diagnosis tool only; bench.py stays the number
the driver grades.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from clickhouse_learning_spark import get_spark  # noqa: E402
from clickhouse_learning_spark.session import sf_dir  # noqa: E402


def t(label, fn, n=3):
    ts = []
    for _ in range(n):
        t0 = time.time()
        fn()
        ts.append(time.time() - t0)
    print(f"{min(ts):8.3f}  (runs: {[round(x, 3) for x in ts]})  {label}")
    return min(ts)


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main():
    spark = get_spark(app_name="profile", extra_conf={"spark.ui.showConsoleProgress": "false"})
    target = sf_dir()
    from pyspark.sql import functions as F

    # register every named query (the bm25/q: probes read QUERIES)
    import clickhouse_learning_spark.queries_behavior  # noqa: F401
    import clickhouse_learning_spark.queries_pipeline  # noqa: F401
    import clickhouse_learning_spark.queries_reference  # noqa: F401
    import clickhouse_learning_spark.queries_tpch  # noqa: F401

    probes = sys.argv[1:] or ["calib"]
    for probe in probes:
        spark.sparkContext.setJobDescription(probe)
        if probe == "calib":
            t("calibration sum 2^28", lambda: spark.range(2**28).selectExpr("sum(id)").collect())
        elif probe == "minhash":
            from clickhouse_learning_spark.operators import dedup as D
            from clickhouse_learning_spark.schemas import load_table
            docs = load_table(spark, target, "documents")
            t("shingle_rows explode only", lambda: noop(
                D.shingle_rows(docs, "text", "doc_id", 5, distinct=False)))
            t("signatures (64 min-aggs)", lambda: noop(
                D.minhash_signatures_df(docs, "text", "doc_id")))
            t("full minhash_lsh_pairs", lambda: noop(
                D.minhash_lsh_pairs(docs, "text", "doc_id")))
        elif probe == "lm":
            from clickhouse_learning_spark.operators import lm as LM
            docs = spark.range(1_000_000).select(
                F.col("id").alias("doc_id"),
                F.concat(
                    F.lit("alpha"), (F.col("id") % 977).cast("string"),
                    F.lit(" beta"), (F.col("id") % 131).cast("string"),
                    F.lit(" gamma"), (F.col("id") % 53).cast("string"),
                    F.lit(" delta"), (F.col("id") % 7).cast("string"),
                    F.lit(" common tail words"),
                ).alias("text"),
            )
            from clickhouse_learning_spark.operators import kn_lm as KN
            def _train():
                spark.catalog.clearCache()
                m = LM.train_bigram_lm(docs)
                noop(m.unigrams); noop(m.bigrams)
            t("lm train", _train)
            def _kn():
                spark.catalog.clearCache()
                m = KN.train_kn_trigram(docs)
                noop(m.tri); noop(m.cctx); noop(m.midctx)
            t("kn train", _kn)
        elif probe == "avro":
            import shutil
            import tempfile
            from clickhouse_learning_spark.sources import avro as AV
            d = tempfile.mkdtemp(prefix="prof_avro_")
            exp = spark.range(200_000).select(
                F.col("id").alias("k"),
                (F.col("id") % 997).cast("double").alias("x"),
                F.concat(F.lit("s"), (F.col("id") % 10_000).cast("string")).alias("s"),
            )
            t("avro write 200k", lambda: AV.write_avro(exp, d + "/w", block_rows=8192))
            AV.write_avro(exp, d + "/r", block_rows=8192)
            t("avro split-read 200k", lambda: noop(
                AV.read_avro_split(spark, d + "/r", rows_per_chunk=16384)))
            shutil.rmtree(d, ignore_errors=True)
        elif probe == "values":
            import shutil
            import tempfile
            from clickhouse_learning_spark.sources import values as VAL
            d = tempfile.mkdtemp(prefix="prof_val_")
            exp = spark.range(200_000).select(
                F.col("id").alias("k"),
                (F.col("id") % 997).cast("double").alias("x"),
                F.concat(F.lit("s"), (F.col("id") % 10_000).cast("string")).alias("s"),
            )
            nt = ["Int64", "Float64", "String"]
            t("values write 200k", lambda: VAL.write_values(exp, d + "/w", nt))
            VAL.write_values(exp, d + "/r", nt)
            t("values split-read 200k", lambda: noop(
                VAL.read_values_split(spark, d + "/r", ["k", "x", "s"], nt,
                                      chunk_bytes=4 * 1024 * 1024)))
            shutil.rmtree(d, ignore_errors=True)
        elif probe == "tsv":
            import shutil
            import tempfile
            from clickhouse_learning_spark.sources import tsv as TSV
            d = tempfile.mkdtemp(prefix="prof_tsv_")
            exp = spark.range(200_000).select(
                F.col("id").alias("k"),
                (F.col("id") % 997).cast("double").alias("x"),
                F.concat(F.lit("s"), (F.col("id") % 10_000).cast("string")).alias("s"),
            )
            nt = ["Int64", "Float64", "String"]
            t("tsv write 200k", lambda: TSV.write_tsv(exp, d + "/w", nt))
            TSV.write_tsv(exp, d + "/r", nt)
            t("tsv split-read 200k", lambda: noop(
                TSV.read_tsv_split(spark, d + "/r", chunk_bytes=4 * 1024 * 1024)))
            shutil.rmtree(d, ignore_errors=True)
        elif probe == "bloom":
            from clickhouse_learning_spark.operators import decontamination as DC
            dc_words = ("alpha beta gamma delta epsilon zeta eta theta iota kappa").split()
            dc_text = F.concat(
                F.lit(" ".join(dc_words) + " "),
                (F.col("id") % 4093).cast("string"),
                F.lit(" trailing filler tokens here"),
            )
            train = spark.range(500_000).select(F.col("id").alias("doc_id"), dc_text.alias("text"))
            ev = spark.range(100_000).select((F.col("id") + 10_000_000).alias("doc_id"), dc_text.alias("text"))
            t("bloom build only", lambda: DC.build_gram_bloom(ev))
            t("train gram rows only", lambda: noop(DC.word_ngram_rows(train)))
            t("bloom_contamination full", lambda: noop(
                DC.bloom_contamination_report(train, ev)))
            t("broadcast_contamination full", lambda: noop(
                DC.contamination_report(train, ev)))
        elif probe == "audio":
            from clickhouse_learning_spark.operators import multimodal as MM
            from clickhouse_learning_spark.schemas import load_table
            docs = load_table(spark, target, "documents")
            t("build_audio_table only", lambda: noop(MM.build_audio_table(spark, docs)))
            audio = MM.build_audio_table(spark, docs)
            t("spectral features incl build", lambda: noop(
                MM.audio_spectral_features(audio).select(
                    "media_id", "dominant_hz", "spectral_centroid",
                    "spectral_bandwidth", "rolloff_85", "zcr")))
        elif probe == "bm25":
            from clickhouse_learning_spark.queries import QUERIES
            t("hybrid_retrieval_rrf", lambda: noop(QUERIES["hybrid_retrieval_rrf"](spark, target)))
            t("bm25_topk", lambda: noop(QUERIES["bm25_topk"](spark, target)))
        elif probe.startswith("q:"):
            from clickhouse_learning_spark.queries import QUERIES
            name = probe[2:]
            def _run():
                spark.catalog.clearCache()
                noop(QUERIES[name](spark, target))
            t(name, _run)
        else:
            print(f"unknown probe {probe}")
        spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
