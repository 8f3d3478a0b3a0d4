package graft.config

import graft.chunker.LovdataChunker
import graft.functions.{BpeTokenCounter, TokenCounter, WordSymbolTokenizer}

/** Typed pipeline configuration with env-var + CLI-flag loading (reference
  * `config/settings.py:13-141`: pydantic-settings fields, range validators,
  * dataset-filter pattern, chunk-param defaults).
  *
  * Resolution order mirrors the reference (env < explicit override): values
  * start from the defaults below, env vars (`GRAFT_*`, upper snake case)
  * override them, and `--key=value` CLI flags override both. Validation
  * ranges are the reference's (`settings.py:70-105`), except
  * `embeddingDimensions`, which allows small vectors because the offline
  * deterministic provider has no 256-dim floor.
  */
final case class Settings(
    embeddingModel: String = "deterministic-sha256",
    embeddingDimensions: Int = 64,
    /** chunk-store backend, the analogue of the reference's `storage_type`
      * ∈ {chroma, jsonl} (`settings.py:55-58`): the snapshot table is the
      * one store, so `snapshot` is the one legal value; parquet and
      * JSON-lines chunk dirs move in and out through `migrate`.
      */
    storageType: String = "snapshot",
    chunkMaxTokens: Int = 6800,
    chunkTargetTokens: Int = 2000,
    chunkMinTokens: Int = 300,
    chunkOverlapRatio: Double = 0.15,
    /** glob over dataset names (`*` wildcard); a pattern with no `*` is a
      * prefix match, so the reference default `gjeldende` still selects
      * `gjeldende-lover.tar.bz2` etc.
      */
    datasetFilter: String = "*",
    force: Boolean = false,
    limit: Option[Int] = None,
    /** token counter: `word` (SQL-expressible default) or `bpe:<path>` to a
      * tiktoken-format rank file (e.g. cl100k_base.tiktoken) for byte-parity
      * with the reference's chunk boundaries.
      */
    tokenizer: String = "word",
    /** emit task-level progress lines during `process` (reference
      * `progress.py` Rich bars → driver log lines here).
      */
    progress: Boolean = false,
    /** API key for an HTTP embedding provider. None = offline deterministic
      * provider (the zero-egress default). When set, the shape is validated
      * eagerly — fail at config load, not on the first remote batch
      * (reference `settings.py:123-133`).
      */
    apiKey: Option[String] = None
) {
  require(embeddingDimensions >= 1 && embeddingDimensions <= 3072,
    s"embeddingDimensions must be 1..3072, got $embeddingDimensions")
  require(storageType == "snapshot",
    if (storageType == "parquet" || storageType == "json")
      s"storageType '$storageType' is no longer a chunk store: the store is a snapshot " +
        s"table; import a $storageType chunk dir with `migrate <dir> $storageType <store> snapshot`"
    else s"storageType must be 'snapshot', got '$storageType'")
  require(chunkMaxTokens >= 100 && chunkMaxTokens <= 10000,
    s"chunkMaxTokens must be 100..10000, got $chunkMaxTokens")
  require(chunkTargetTokens >= 100 && chunkTargetTokens <= 8191,
    s"chunkTargetTokens must be 100..8191, got $chunkTargetTokens")
  require(chunkMinTokens >= 50 && chunkMinTokens <= 1000,
    s"chunkMinTokens must be 50..1000, got $chunkMinTokens")
  require(chunkOverlapRatio >= 0.0 && chunkOverlapRatio <= 0.5,
    s"chunkOverlapRatio must be 0.0..0.5, got $chunkOverlapRatio")
  require(datasetFilter.trim.nonEmpty, "datasetFilter cannot be empty")
  require(limit.forall(_ > 0), s"limit must be positive, got $limit")
  require(tokenizer == "word" || tokenizer.startsWith("bpe:"),
    s"tokenizer must be 'word' or 'bpe:<rank-file>', got '$tokenizer'")
  apiKey.foreach { k =>
    require(k.nonEmpty, "API key cannot be empty")
    require(k.startsWith("sk-"), "API key must start with 'sk-'")
    require(k.length >= 20, "API key appears to be too short")
  }

  /** The configured token counter (rank file loaded lazily at use). */
  def tokenCounter: TokenCounter =
    if (tokenizer == "word") WordSymbolTokenizer
    else BpeTokenCounter.fromTiktokenFile(tokenizer.stripPrefix("bpe:"))

  /** A chunker configured from these settings. */
  def chunker(tokens: TokenCounter = null): LovdataChunker =
    new LovdataChunker(chunkTargetTokens, chunkMaxTokens, chunkMinTokens, chunkOverlapRatio,
      Option(tokens).getOrElse(tokenCounter))

  /** The dataset glob as a SQL LIKE pattern for a scan-time filter. */
  def datasetLikePattern: String = {
    val p = datasetFilter.trim
    if (p.contains("*")) p.replace("%", "\\%").replace("*", "%") else p + "%"
  }
}

object Settings {

  private val envPrefix = "GRAFT_"

  /** Field → env-var suffix (`GRAFT_CHUNK_TARGET_TOKENS` etc.). */
  private val envKeys = Seq(
    "EMBEDDING_MODEL", "EMBEDDING_DIMENSIONS", "STORAGE_TYPE",
    "CHUNK_MAX_TOKENS", "CHUNK_TARGET_TOKENS", "CHUNK_MIN_TOKENS", "CHUNK_OVERLAP_RATIO",
    "DATASET_FILTER", "FORCE", "LIMIT", "TOKENIZER", "PROGRESS", "API_KEY"
  )

  def fromEnv(env: Map[String, String] = sys.env): Settings =
    envKeys.foldLeft(Settings()) { (s, k) =>
      env.get(envPrefix + k).map(_.trim).filter(_.nonEmpty) match {
        case None => s
        case Some(v) => applyKey(s, k, v)
      }
    }

  /** Parse `--key=value` / `--force` flags over env-resolved settings;
    * returns (settings, positional args). Unknown flags fail loudly
    * (reference pydantic rejects invalid values the same way).
    */
  def fromArgs(args: Seq[String], env: Map[String, String] = sys.env): (Settings, Seq[String]) = {
    val (flags, positional) = args.partition(_.startsWith("--"))
    val settings = flags.foldLeft(fromEnv(env)) { (s, flag) =>
      flag.stripPrefix("--").split("=", 2) match {
        case Array("force")                 => s.copy(force = true)
        case Array("progress")              => s.copy(progress = true)
        case Array("embedding-model", v)    => applyKey(s, "EMBEDDING_MODEL", v)
        case Array("embedding-dim", v)      => applyKey(s, "EMBEDDING_DIMENSIONS", v)
        case Array("storage-type", v)       => applyKey(s, "STORAGE_TYPE", v)
        case Array("max-tokens", v)         => applyKey(s, "CHUNK_MAX_TOKENS", v)
        case Array("target-tokens", v)      => applyKey(s, "CHUNK_TARGET_TOKENS", v)
        case Array("min-tokens", v)         => applyKey(s, "CHUNK_MIN_TOKENS", v)
        case Array("overlap-ratio", v)      => applyKey(s, "CHUNK_OVERLAP_RATIO", v)
        case Array("dataset", v)            => applyKey(s, "DATASET_FILTER", v)
        case Array("limit", v)              => applyKey(s, "LIMIT", v)
        case Array("tokenizer", v)          => applyKey(s, "TOKENIZER", v)
        case Array("api-key", v)            => applyKey(s, "API_KEY", v)
        case other =>
          throw new IllegalArgumentException(s"unknown flag: --${other.mkString("=")}")
      }
    }
    (settings, positional)
  }

  private def applyKey(s: Settings, key: String, v: String): Settings = key match {
    case "EMBEDDING_MODEL"      => s.copy(embeddingModel = v)
    case "EMBEDDING_DIMENSIONS" => s.copy(embeddingDimensions = toInt(key, v))
    case "STORAGE_TYPE"         => s.copy(storageType = v)
    case "CHUNK_MAX_TOKENS"     => s.copy(chunkMaxTokens = toInt(key, v))
    case "CHUNK_TARGET_TOKENS"  => s.copy(chunkTargetTokens = toInt(key, v))
    case "CHUNK_MIN_TOKENS"     => s.copy(chunkMinTokens = toInt(key, v))
    case "CHUNK_OVERLAP_RATIO"  => s.copy(chunkOverlapRatio = toDouble(key, v))
    case "DATASET_FILTER"       => s.copy(datasetFilter = v)
    case "FORCE"                => s.copy(force = v.equalsIgnoreCase("true") || v == "1")
    case "LIMIT"                => s.copy(limit = Some(toInt(key, v)))
    case "TOKENIZER"            => s.copy(tokenizer = v)
    case "PROGRESS"             => s.copy(progress = v.equalsIgnoreCase("true") || v == "1")
    case "API_KEY"              => s.copy(apiKey = Some(v))
  }

  private def toInt(key: String, v: String): Int =
    try v.toInt catch {
      case _: NumberFormatException =>
        throw new IllegalArgumentException(s"$key must be an integer, got '$v'")
    }

  private def toDouble(key: String, v: String): Double =
    try v.toDouble catch {
      case _: NumberFormatException =>
        throw new IllegalArgumentException(s"$key must be a number, got '$v'")
    }
}
