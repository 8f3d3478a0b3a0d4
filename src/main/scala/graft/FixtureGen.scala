package graft

import org.apache.spark.sql.functions._

/** Generates the checked-in golden fixtures that back battery oracles whose
  * semantics are not SQL-expressible (the chunker's fold laws). The chunker
  * is a pure function of (doc_id, text, lang), so its aggregate over a given
  * testdata scale factor is a constant — computed once here, stored with the
  * sf's document count as the key, and verified by DuckDB reading the
  * fixture back (`tools/fixtures/`). Regenerate only when chunker semantics
  * intentionally change:
  *
  *   sbt "runMain graft.FixtureGen"
  */
object FixtureGen {

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("tools/fixtures")
    val sfDirs =
      if (args.length > 1) args.tail.toSeq
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
    val spark = Session(16)
    spark.sparkContext.setLogLevel("ERROR")

    // Toy BPE rank table FIRST: the s2_chunker_bpe_stats battery fn loads it
    // from disk. Trained on the sf0.001 corpus with non-ASCII folded to
    // spaces, so every learned merge is a concatenation of single-byte
    // tokens and the char-level trainer agrees with the byte-level encoder;
    // written in the published .tiktoken format (base64(tokenBytes) rank)
    // so the loader exercised here accepts the real cl100k_base file
    // unchanged. Deterministic: the trainer's argmax tie-break is total.
    val rankFile = s"$outDir/toy.tiktoken"
    val ascii = Tables.documents(spark, sfDirs.head)
      .select(regexp_replace(col("text"), "[^\\x20-\\x7E]", " ").as("text"))
    val merges = graft.operators.BpeTrainer.train(ascii, "text", k = 256, minCount = 2)
    val enc = java.util.Base64.getEncoder
    val pw = new java.io.PrintWriter(rankFile, "UTF-8")
    try {
      (0 until 256).foreach { b =>
        pw.println(enc.encodeToString(Array(b.toByte)) + " " + b)
      }
      merges.zipWithIndex.foreach { case (m, i) =>
        pw.println(enc.encodeToString(
          (m.a + m.b).getBytes(java.nio.charset.StandardCharsets.UTF_8)) + " " + (256 + i))
      }
    } finally pw.close()
    println(s"wrote $rankFile (${merges.length} merges)")

    for (name <- Seq("s2_chunker_stats", "s2_chunker_bpe_stats")) {
      val q = graft.queries.PipelineQueries.all(name).fn
      val frames = sfDirs.map { d =>
        // the (n_docs, corpus_chars) pair identifies the scale factor from the
        // data alone (sf0.001 and sf0.01 share a row count but not content)
        val key = Tables.documents(spark, d)
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars")).head()
        q(spark, d)
          .withColumn("n_docs", lit(key.getLong(0)))
          .withColumn("corpus_chars", lit(key.getLong(1)))
      }
      frames.reduce(_ unionByName _)
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$name")
      println(s"wrote $outDir/$name for ${sfDirs.mkString(", ")}")
    }
    spark.stop()
  }
}
