package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One-off BPE cost-contract measurement at REAL vocab scale (the t39
  * oracle proves ~1.1k merges; production tokenizers train ~30k). Runs
  * [[graft.operators.TextAnalysis.bpeMergesBatched]] over the
  * `SPARK_GRAFT_SF_DIR` documents (md5-hex words, 2-char seed symbols —
  * the t39 shape) until ≥ `SPARK_GRAFT_BPE_TARGET` (default 10000)
  * merges are learned, and writes `bpe_scale.json` with seconds-per-merge
  * — the committed sizing evidence behind the batch/maxVocab guidance in
  * the operator's docs. Not part of the bench suite (it is a minutes-long
  * training run, not a query). */
object BpeBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val target = sys.env.getOrElse("SPARK_GRAFT_BPE_TARGET", "10000").toInt
    val batch = sys.env.getOrElse("SPARK_GRAFT_BPE_BATCH", "512").toInt
    val rounds = sys.env.getOrElse("SPARK_GRAFT_BPE_ROUNDS", "60").toInt
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .appName("graft-bpe-scale")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.schema.GraftExtensions.sizeCodegenCache(spark.sparkContext.getConf)
    try {
      val words = spark.read.parquet(s"$sfDir/documents.parquet")
        .filter(col("text").isNotNull).select(md5(col("text")).as("w"))
      // warm the JIT/scan path once with a tiny run (the bench discipline)
      graft.operators.TextAnalysis
        .bpeMergesBatched(words, "w", rounds = 2, batch = batch, seedSymbolLen = 2)
        .count()
      val t0 = System.nanoTime()
      val merges = graft.operators.TextAnalysis
        .bpeMergesBatched(words, "w", rounds = rounds, batch = batch,
          seedSymbolLen = 2)
        .count()
      val sec = (System.nanoTime() - t0) / 1e9
      val json = f"""{"merges":$merges,"rounds":$rounds,"batch":$batch,""" +
        f""""target":$target,"sec":$sec%.3f,""" +
        f""""sec_per_merge":${sec / merges}%.6f,"sf":"$sfDir"}"""
      println(json)
      java.nio.file.Files.write(java.nio.file.Paths.get("bpe_scale.json"),
        (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      if (merges < target)
        System.err.println(s"[bpe-bench] $merges < target $target — raise SPARK_GRAFT_BPE_ROUNDS")
    } finally spark.stop()
  }
}
