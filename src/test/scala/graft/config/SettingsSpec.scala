package graft.config

import org.scalatest.funsuite.AnyFunSuite

/** Config resolution + validation (reference `config/settings.py:13-141`). */
class SettingsSpec extends AnyFunSuite {

  test("defaults mirror the reference chunk/storage defaults") {
    val s = Settings()
    assert(s.chunkMaxTokens == 6800 && s.chunkTargetTokens == 2000 && s.chunkMinTokens == 300)
    assert(s.chunkOverlapRatio == 0.15 && s.storageType == "snapshot" && !s.force)
  }

  test("env vars override defaults; flags override env") {
    val env = Map(
      "GRAFT_CHUNK_TARGET_TOKENS" -> "1500",
      "GRAFT_EMBEDDING_DIMENSIONS" -> "96",
      "GRAFT_FORCE" -> "true"
    )
    val fromEnv = Settings.fromEnv(env)
    assert(fromEnv.chunkTargetTokens == 1500 && fromEnv.embeddingDimensions == 96 && fromEnv.force)

    val (s, positional) = Settings.fromArgs(
      Seq("a.json", "--target-tokens=800", "dir", "--limit=5"), env)
    assert(s.chunkTargetTokens == 800, "flag beats env")
    assert(s.embeddingDimensions == 96, "env survives where no flag is given")
    assert(s.limit.contains(5))
    assert(positional == Seq("a.json", "dir"))
  }

  test("validators reject out-of-range values (reference settings.py:70-105)") {
    assertThrows[IllegalArgumentException](Settings(chunkTargetTokens = 50))
    assertThrows[IllegalArgumentException](Settings(chunkMaxTokens = 20000))
    assertThrows[IllegalArgumentException](Settings(chunkMinTokens = 10))
    assertThrows[IllegalArgumentException](Settings(chunkOverlapRatio = 0.7))
    assertThrows[IllegalArgumentException](Settings(storageType = "chroma"))
    // the retired chunk-store formats fail at config load and name the import path
    Seq("parquet", "json").foreach { t =>
      val e = intercept[IllegalArgumentException](Settings.fromArgs(Seq(s"--storage-type=$t"))._1)
      assert(e.getMessage.contains("migrate"), e.getMessage)
    }
    assertThrows[IllegalArgumentException](Settings(datasetFilter = "  "))
    assertThrows[IllegalArgumentException](Settings(limit = Some(0)))
    assertThrows[IllegalArgumentException](Settings.fromArgs(Seq("--target-tokens=abc"))._1)
    assertThrows[IllegalArgumentException](Settings.fromArgs(Seq("--no-such-flag=1"))._1)
  }

  test("dataset glob becomes a LIKE pattern; bare names are prefix matches") {
    assert(Settings(datasetFilter = "*").datasetLikePattern == "%")
    assert(Settings(datasetFilter = "gjeldende-*").datasetLikePattern == "gjeldende-%")
    assert(Settings(datasetFilter = "gjeldende").datasetLikePattern == "gjeldende%")
  }

  test("settings build a chunker carrying the configured params") {
    val c = Settings(chunkTargetTokens = 768, chunkMaxTokens = 8191).chunker()
    assert(c.targetTokens == 768 && c.maxTokens == 8191 && c.minTokens == 300)
  }

  test("tokenizer setting selects word or a BPE rank file per run") {
    assert(Settings().tokenCounter eq graft.functions.WordSymbolTokenizer)
    assertThrows[IllegalArgumentException](Settings(tokenizer = "tiktoken"))
    // a bpe: setting loads the rank file lazily and drives the chunker
    val dir = java.nio.file.Files.createTempDirectory("cfgbpe")
    val file = dir.resolve("mini.tiktoken")
    val b64 = java.util.Base64.getEncoder
    val lines = ((0 until 256).map(b => b64.encodeToString(Array(b.toByte)) + s" $b") ++
      Seq(b64.encodeToString("ab".getBytes("UTF-8")) + " 256")).mkString("\n")
    java.nio.file.Files.write(file, lines.getBytes("UTF-8"))
    val s = Settings.fromArgs(Seq(s"--tokenizer=bpe:$file"))._1
    assert(s.tokenCounter.countTokens("abc") == 2) // ab + c
    assert(s.chunker().tokens.countTokens("ab") == 1)
  }

  test("API key shape is validated at config load (reference settings.py:123-133)") {
    // no key: fine — the offline deterministic provider needs none
    assert(Settings().apiKey.isEmpty)
    // well-formed key: accepted via case class, env, and flag
    val good = "sk-" + "a" * 20
    assert(Settings(apiKey = Some(good)).apiKey.contains(good))
    assert(Settings.fromEnv(Map("GRAFT_API_KEY" -> good)).apiKey.contains(good))
    assert(Settings.fromArgs(Seq(s"--api-key=$good"))._1.apiKey.contains(good))
    // malformed keys fail fast, not on the first remote batch
    assertThrows[IllegalArgumentException](Settings(apiKey = Some("not-a-key-but-long-enough")))
    assertThrows[IllegalArgumentException](Settings(apiKey = Some("sk-short")))
    assertThrows[IllegalArgumentException](
      Settings.fromEnv(Map("GRAFT_API_KEY" -> "bogus-value-with-length")))
    // the HTTP provider applies the same gate at construction
    assertThrows[IllegalArgumentException](
      new graft.embed.HttpEmbeddingProvider(
        "http://localhost:9/v1/embeddings", "m", 8, apiKey = Some("wrong")))
  }
}
