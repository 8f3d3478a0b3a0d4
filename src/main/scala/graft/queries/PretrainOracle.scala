package graft.queries

import graft.operators.{Dedup, Pretrain}

/** DuckDB replay of the ENTIRE pretrain chain, stage by stage, from the
  * `documents` table — the oracle for `pipeline_pretrain_e2e`. Every stage
  * fragment is the proven twin of its per-stage battery entry
  * (`ta_html_strip`, `ta_normalize`, `ta_c4_lines`, `ta_gopher`,
  * `ta_repetition`, `ta_perplexity`, `dd_line_dedup`, `dd_corpus_dedup`,
  * `dd_contamination`, `ta_token_budget_take`, `ta_packing`,
  * `ta_epoch_shuffle`), re-rooted on the previous stage's CTE instead of the
  * raw table, so a contract drift ANYWHERE in the chain (id column, hash
  * family, text shape) lands as a value mismatch in that stage's row.
  *
  * Literals that must not drift (crawl scaffolding, MinHash affine
  * constants, the hash prime) are interpolated from the SAME Scala
  * constants the engine compiles ([[Pretrain]], [[Dedup.affineConstants]]).
  * The WARC container roundtrip is byte-preserving (WarcSpec), so the
  * replay synthesizes the crawl page directly from `documents`.
  */
private[queries] object PretrainOracle {

  private val cfg = Pretrain.PretrainConfig()
  private val P = Dedup.MersenneP

  /** `min((h*a+b) % p) AS m<seed>` for every MinHash seed — the identical
    * affine family the Spark expression inlines.
    */
  private def minExprs: String =
    (0 until cfg.numHashes).map { s =>
      val (a, b) = Dedup.affineConstants(s)
      s"min((h * $a + $b) % $P) AS m$s"
    }.mkString(",\n         ")

  /** One SELECT per LSH band: bucket = md5Lower60 of the comma-joined
    * band slice (the [[Dedup.md5BucketHash]] family).
    */
  private def bandSelects: String = {
    val rpb = cfg.numHashes / cfg.bands
    (0 until cfg.bands).map { bd =>
      val cols = (bd * rpb until (bd + 1) * rpb)
        .map(i => s"CAST(m$i AS VARCHAR)").mkString(" || ',' || ")
      s"SELECT doc_id, $bd AS band, CAST((md5_number_lower($cols) >> 4) AS BIGINT) AS bucket FROM mh_sigs"
    }.mkString("\n  UNION ALL\n  ")
  }

  /** The per-text-stage report row: count, char mass, 60-bit xor content
    * fingerprint (the [[Pretrain.prepare]] `stageRow` twin).
    */
  private def stageRow(stage: String, cte: String, textCol: String): String =
    s"""SELECT '$stage' AS stage, CAST(count(*) AS BIGINT) AS n,
       |       CAST(coalesce(sum(length($textCol)), 0) AS BIGINT) AS mass,
       |       coalesce(bit_xor(CAST((md5_number_lower($textCol) >> 4) AS BIGINT)), 0) AS fp
       |FROM $cte""".stripMargin

  /** The block-level strip+normalize pipeline applied to a block column
    * `b`: [[graft.functions.TextFunctions.stripHtml]] (script/style/comment
    * drop, tag strip, entity decode, whitespace collapse) then
    * [[graft.functions.TextFunctions.normalizeText]] (NFC, control strip,
    * collapse) — the `ta_html_strip` + `ta_normalize` chains composed.
    */
  private val blockNorm: String =
    """trim(regexp_replace(regexp_replace(nfc_normalize(
      |      trim(regexp_replace(
      |        regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |        regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |        regexp_replace(regexp_replace(
      |          b,
      |          '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
      |          '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
      |          '(?s)<!--.*?-->', ' ', 'g'),
      |          '<[^>]+>', ' ', 'g'),
      |          '&lt;', '<', 'g'),
      |          '&gt;', '>', 'g'),
      |          '&quot;', '"', 'g'),
      |          '&#39;', CAST('''' AS VARCHAR), 'g'),
      |          '&nbsp;', ' ', 'g'),
      |          '&amp;', '&', 'g'),
      |        '\s+', ' ', 'g'))),
      |      '[\x00-\x08\x0B-\x1F\x7F\x{80}-\x{9F}]', '', 'g'),
      |      '\s+', ' ', 'g'))""".stripMargin

  /** distinct word-5-gram md5 hashes of a token-array column `ts` — the
    * [[Dedup.Md5Gram]] family (`dd_contamination` twin).
    */
  private def gramHashes(n: Int): String = {
    val m = n - 1
    s"""unnest(list_distinct(
       |    CASE WHEN len(ts) - $m <= 0 THEN CAST([] AS BIGINT[])
       |    ELSE list_transform(range(1, greatest(len(ts) - $m, 1) + 1),
       |      i -> CAST((md5_number_lower(array_to_string(list_slice(ts, i, i + $m), ' ')) >> 4) AS BIGINT))
       |    END)) AS h""".stripMargin
  }

  private val gopherStop: String =
    cfg.stopwords.map(w => s"'$w'").mkString(",")

  /** shard quotient for hashBits=60 / nShards ([[graft.operators.Sampling
    * .shuffleShards]]'s `ceil(2^60 / n)`).
    */
  private val shardQ: Long = {
    val span = BigInt(2).pow(60)
    ((span + cfg.nShards - 1) / cfg.nShards).toLong
  }

  val sql: Option[String] = Some(
    s"""WITH RECURSIVE
       |ingest AS MATERIALIZED (
       |  SELECT doc_id, source, lang,
       |         '<html><body><p>${Pretrain.BoilerLine}</p><p>' || text ||
       |         '.</p><p>${Pretrain.JunkLine1}</p><p>${Pretrain.JunkLine2}</p>' ||
       |         '<script type="text/javascript">var a = 1 < 2;</script><!-- nav --></body></html>' AS html
       |  FROM documents),
       |blocks AS MATERIALIZED (
       |  SELECT doc_id, source, lang,
       |         generate_subscripts(string_split(html, '</p>'), 1) AS pos,
       |         unnest(string_split(html, '</p>')) AS b
       |  FROM ingest),
       |bnorm AS MATERIALIZED (
       |  SELECT doc_id, source, lang, pos,
       |    $blockNorm AS nb
       |  FROM blocks),
       |cleaned AS MATERIALIZED (
       |  SELECT doc_id, any_value(source) AS source, any_value(lang) AS lang,
       |         array_to_string(list(nb ORDER BY pos) FILTER (length(nb) > 0), chr(10)) AS text_clean
       |  FROM bnorm GROUP BY doc_id),
       |c4 AS MATERIALIZED (
       |  SELECT doc_id, source, lang, replace(kept, chr(10), ' ') AS text_q
       |  FROM (
       |    SELECT doc_id, source, lang,
       |      array_to_string(list_filter(string_split(text_clean, chr(10)),
       |        l -> regexp_matches(l, '[.!?"'']\\s*$$')
       |             AND len(regexp_split_to_array(trim(l), '\\s+')) >= ${3}
       |             AND length(trim(l)) > 0), chr(10)) AS kept
       |    FROM cleaned)
       |  WHERE length(kept) > 0),
       |gsig AS MATERIALIZED (
       |  SELECT doc_id,
       |    len(toks) AS n_words,
       |    CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
       |      / greatest(len(toks), 1) AS mwl,
       |    CAST((length(t) - length(replace(t, '#', '')))
       |       + (length(t) - length(replace(t, '...', ''))) / 3
       |       + (length(t) - length(replace(t, chr(8230), ''))) AS DOUBLE)
       |      / greatest(len(toks), 1) AS sym,
       |    CAST(len(list_filter(lines, l -> starts_with(ltrim(l), chr(8226))
       |           OR starts_with(ltrim(l), '- ') OR starts_with(ltrim(l), '* '))) AS DOUBLE)
       |      / greatest(len(lines), 1) AS bullet,
       |    CAST(len(list_filter(lines, l -> ends_with(rtrim(l), '...')
       |           OR ends_with(rtrim(l), chr(8230)))) AS DOUBLE)
       |      / greatest(len(lines), 1) AS ellipsis,
       |    CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
       |      / greatest(len(toks), 1) AS alpha,
       |    len(list_filter([$gopherStop],
       |          sw -> list_contains(list_transform(toks, x -> lower(x)), sw))) AS stop_types
       |  FROM (SELECT doc_id, text_q AS t,
       |               regexp_split_to_array(trim(text_q), '\\s+') AS toks,
       |               string_split(text_q, chr(10)) AS lines
       |        FROM c4)),
       |gopher AS MATERIALIZED (
       |  SELECT c.doc_id, c.source, c.lang, c.text_q
       |  FROM c4 c JOIN gsig g USING (doc_id)
       |  WHERE g.n_words BETWEEN ${cfg.minWords} AND ${cfg.maxWords}
       |    AND g.mwl BETWEEN 3.0 AND 10.0 AND g.sym <= 0.1 AND g.bullet < 0.9
       |    AND g.ellipsis < 0.3 AND g.alpha >= 0.8
       |    AND g.stop_types >= ${cfg.minStopwordTypes}),
       |rtoks AS MATERIALIZED (
       |  SELECT doc_id, regexp_split_to_array(trim(text_q), '\\s+') AS ts,
       |         length(text_q) AS chars
       |  FROM gopher),
       |rgrams AS MATERIALIZED (
       |  SELECT doc_id, unnest(
       |    CASE WHEN len(ts) - 1 <= 0 THEN CAST([] AS VARCHAR[])
       |    ELSE list_transform(range(1, greatest(len(ts) - 1, 1) + 1),
       |      i -> array_to_string(list_slice(ts, i, i + 1), ' ')) END) AS gram
       |  FROM rtoks),
       |rcounted AS MATERIALIZED (SELECT doc_id, gram, count(*) AS cnt FROM rgrams GROUP BY doc_id, gram),
       |rtop AS MATERIALIZED (
       |  SELECT doc_id, gram, cnt FROM (
       |    SELECT doc_id, gram, cnt,
       |           row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram DESC) AS rn
       |    FROM rcounted) WHERE rn = 1),
       |rsig AS MATERIALIZED (
       |  SELECT t.doc_id,
       |    round(1.0 - CAST(len(list_distinct(t.ts)) AS DOUBLE)
       |      / greatest(len(t.ts), 1), 6) AS dwf,
       |    round(COALESCE(CAST(tp.cnt AS DOUBLE) * length(tp.gram)
       |      / greatest(t.chars, 1), 0.0), 6) AS tnf
       |  FROM rtoks t LEFT JOIN rtop tp USING (doc_id)),
       |repetition AS MATERIALIZED (
       |  SELECT g.doc_id, g.source, g.lang, g.text_q
       |  FROM gopher g JOIN rsig USING (doc_id)
       |  WHERE dwf <= ${cfg.dupWordFracMax} AND tnf <= ${cfg.topNgramCharFracMax}),
       |ptoks AS MATERIALIZED (
       |  SELECT doc_id, list_filter(string_split(trim(text_q), ' '), t -> length(t) > 0) AS toks
       |  FROM repetition),
       |ptrain AS MATERIALIZED (SELECT doc_id, toks FROM ptoks WHERE doc_id % 2 = 0 AND len(toks) >= 1),
       |puni AS MATERIALIZED (SELECT w, count(*) AS c FROM (SELECT unnest(toks) AS w FROM ptrain) GROUP BY w),
       |ptot AS MATERIALIZED (SELECT CAST(sum(c) AS DOUBLE) AS total, count(*) AS vocab FROM puni),
       |ptflat AS MATERIALIZED (SELECT doc_id, generate_subscripts(toks, 1) AS i, unnest(toks) AS w FROM ptrain),
       |pbi AS MATERIALIZED (SELECT a.w AS w1, b.w AS w2, count(*) AS c12
       |        FROM ptflat a JOIN ptflat b ON a.doc_id = b.doc_id AND b.i = a.i + 1
       |        GROUP BY w1, w2),
       |pscored AS MATERIALIZED (SELECT doc_id, toks, len(toks) AS n_toks FROM ptoks WHERE len(toks) >= 1),
       |pfirstlp AS MATERIALIZED (
       |  SELECT s.doc_id, ln((COALESCE(u.c, 0) + 0.5) / (ptot.total + 0.5 * ptot.vocab)) AS lp
       |  FROM pscored s LEFT JOIN puni u ON u.w = s.toks[1] CROSS JOIN ptot),
       |psflat AS MATERIALIZED (SELECT doc_id, generate_subscripts(toks, 1) AS i, unnest(toks) AS w FROM pscored),
       |pspairs AS MATERIALIZED (SELECT a.doc_id, a.w AS w1, b.w AS w2
       |            FROM psflat a JOIN psflat b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
       |ppairlp AS MATERIALIZED (
       |  SELECT p.doc_id, ln((COALESCE(pbi.c12, 0) + 0.5) / (COALESCE(u.c, 0) + 0.5 * ptot.vocab)) AS lp
       |  FROM pspairs p LEFT JOIN pbi ON pbi.w1 = p.w1 AND pbi.w2 = p.w2
       |  LEFT JOIN puni u ON u.w = p.w1 CROSS JOIN ptot),
       |plp AS MATERIALIZED (SELECT doc_id, lp FROM pfirstlp UNION ALL SELECT doc_id, lp FROM ppairlp),
       |pperdoc AS MATERIALIZED (SELECT doc_id, sum(lp) AS logprob FROM plp GROUP BY doc_id),
       |pkeep AS MATERIALIZED (
       |  SELECT p.doc_id FROM pperdoc p JOIN pscored s USING (doc_id)
       |  WHERE CAST(round(round(-p.logprob / s.n_toks, 6) * 1e6) AS BIGINT) <= ${cfg.maxLogPplMicro}),
       |fluent AS MATERIALIZED (SELECT r.doc_id, r.source, r.lang, r.text_q
       |           FROM repetition r JOIN pkeep USING (doc_id)),
       |l_d2 AS MATERIALIZED (
       |  SELECT doc_id, source, lang,
       |         array_to_string(list_transform(range((len(w) + 9) // 10),
       |           i -> array_to_string(w[i*10+1 : i*10+10], ' ')), chr(10)) AS t
       |  FROM (SELECT doc_id, source, lang,
       |               regexp_split_to_array(trim(text_q), '\\s+') AS w
       |        FROM fluent)),
       |l_lines AS MATERIALIZED (
       |  SELECT doc_id, generate_subscripts(string_split(t, chr(10)), 1) AS pos,
       |         unnest(string_split(t, chr(10))) AS line
       |  FROM l_d2),
       |l_ranked AS MATERIALIZED (
       |  SELECT doc_id, pos, line,
       |         row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
       |  FROM l_lines),
       |lined AS MATERIALIZED (
       |  SELECT d.doc_id, d.source, d.lang, k.t2 AS text
       |  FROM l_d2 d JOIN (
       |    SELECT doc_id, array_to_string(list(line ORDER BY pos), chr(10)) AS t2
       |    FROM l_ranked WHERE rn = 1 GROUP BY doc_id) k USING (doc_id)
       |  WHERE length(k.t2) > 0),
       |exact_keep AS MATERIALIZED (SELECT min(doc_id) AS doc_id FROM lined GROUP BY text),
       |docs2 AS MATERIALIZED (SELECT l.doc_id, l.source, l.lang, l.text
       |          FROM lined l JOIN exact_keep USING (doc_id)),
       |mh_tok AS MATERIALIZED (
       |  SELECT doc_id, unnest(toks) AS tkn
       |  FROM (SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS toks
       |        FROM docs2)
       |  WHERE len(toks) > 0),
       |mh_hashed AS MATERIALIZED (
       |  SELECT doc_id, (CAST((md5_number_lower(tkn) >> 4) AS BIGINT) % $P) AS h FROM mh_tok),
       |mh_sigs AS MATERIALIZED (
       |  SELECT doc_id, $minExprs
       |  FROM mh_hashed GROUP BY doc_id),
       |mh_bands AS MATERIALIZED (
       |  $bandSelects),
       |mh_capped AS MATERIALIZED (
       |  SELECT doc_id, band, bucket FROM (
       |    SELECT doc_id, band, bucket, count(*) OVER (PARTITION BY band, bucket) AS bn
       |    FROM mh_bands) WHERE bn <= ${cfg.maxBucketSize}),
       |mh_pairs AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
       |  FROM mh_capped a JOIN mh_capped b2 USING (band, bucket)
       |  WHERE a.doc_id < b2.doc_id),
       |mh_nodes AS MATERIALIZED (SELECT DISTINCT id FROM (SELECT id_a AS id FROM mh_pairs UNION SELECT id_b FROM mh_pairs)),
       |mh_edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM mh_pairs UNION SELECT id_b, id_a FROM mh_pairs),
       |mh_reach(id, comp) AS (
       |  SELECT id, id FROM mh_nodes
       |  UNION
       |  SELECT e.src, r.comp FROM mh_edges e JOIN mh_reach r ON e.dst = r.id),
       |mh_comps AS MATERIALIZED (SELECT id, min(comp) AS comp FROM mh_reach GROUP BY id),
       |mh_drops AS MATERIALIZED (SELECT id AS doc_id FROM mh_comps WHERE id <> comp),
       |fuzzy AS MATERIALIZED (
       |  SELECT d.doc_id, d.source, d.lang, d.text FROM docs2 d
       |  WHERE d.doc_id NOT IN (SELECT doc_id FROM mh_drops)),
       |dc_grams AS MATERIALIZED (
       |  SELECT doc_id, ${gramHashes(cfg.decontamNgram)}
       |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts FROM fuzzy)),
       |bench_grams AS MATERIALIZED (
       |  SELECT DISTINCT h FROM (
       |    SELECT doc_id, ${gramHashes(cfg.decontamNgram)}
       |    FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts
       |          FROM documents WHERE doc_id % 37 = 0))),
       |dc_flagged AS MATERIALIZED (SELECT DISTINCT g.doc_id FROM dc_grams g JOIN bench_grams USING (h)),
       |clean AS MATERIALIZED (
       |  SELECT f.doc_id, f.source, f.lang, f.text FROM fuzzy f
       |  WHERE f.doc_id NOT IN (SELECT doc_id FROM dc_flagged)),
       |bd AS MATERIALIZED (
       |  SELECT doc_id, source, lang, text,
       |         CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^\\sA-Za-z0-9]')) AS BIGINT) AS toks,
       |         CAST((md5_number_lower(CAST(doc_id AS VARCHAR) || ':${cfg.mixSalt}') >> 4) AS BIGINT) AS h
       |  FROM clean),
       |budgeted AS MATERIALIZED (
       |  SELECT doc_id, source, lang, text, toks FROM (
       |    SELECT *, sum(toks) OVER (PARTITION BY source ORDER BY h, doc_id
       |                              ROWS UNBOUNDED PRECEDING) AS cum
       |    FROM bd) WHERE cum <= ${cfg.budgetTokens}),
       |packed AS MATERIALIZED (
       |  SELECT doc_id, source, toks,
       |         CAST(floor(COALESCE(sum(toks) OVER (PARTITION BY source ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / ${cfg.packTokens}.0) AS BIGINT) AS bin
       |  FROM budgeted),
       |sharded AS MATERIALIZED (
       |  SELECT doc_id, source, lang, text, toks,
       |         CAST((md5_number_lower(CAST(doc_id AS VARCHAR) || ':${cfg.epochSalt}') >> 4) AS BIGINT) AS order_key
       |  FROM budgeted),
       |shardrows AS MATERIALIZED (
       |  SELECT *, CAST(order_key // ${shardQ} AS INT) AS shard FROM sharded)
       |${stageRow("00_ingest", "ingest", "html")}
       |UNION ALL
       |${stageRow("01_clean", "cleaned", "text_clean")}
       |UNION ALL
       |${stageRow("02_c4", "c4", "text_q")}
       |UNION ALL
       |${stageRow("03_gopher", "gopher", "text_q")}
       |UNION ALL
       |${stageRow("04_repetition", "repetition", "text_q")}
       |UNION ALL
       |${stageRow("05_perplexity", "fluent", "text_q")}
       |UNION ALL
       |${stageRow("06_line_dedup", "lined", "text")}
       |UNION ALL
       |${stageRow("07_fuzzy_dedup", "fuzzy", "text")}
       |UNION ALL
       |${stageRow("08_decontam", "clean", "text")}
       |UNION ALL
       |SELECT '09_budget' AS stage, CAST(count(*) AS BIGINT) AS n,
       |       CAST(coalesce(sum(toks), 0) AS BIGINT) AS mass,
       |       CAST(coalesce(bit_xor(doc_id), 0) AS BIGINT) AS fp
       |FROM budgeted
       |UNION ALL
       |SELECT '10_pack' AS stage,
       |       CAST(count(DISTINCT source || ':' || CAST(bin AS VARCHAR)) AS BIGINT) AS n,
       |       CAST(coalesce(sum(bin), 0) AS BIGINT) AS mass,
       |       CAST(coalesce(bit_xor(doc_id + bin), 0) AS BIGINT) AS fp
       |FROM packed
       |UNION ALL
       |SELECT '11_shard_' || CAST(shard AS VARCHAR) AS stage,
       |       CAST(count(*) AS BIGINT) AS n,
       |       CAST(coalesce(sum(toks), 0) AS BIGINT) AS mass,
       |       coalesce(bit_xor(order_key), 0) AS fp
       |FROM shardrows GROUP BY shard
       |UNION ALL
       |SELECT '12_final' AS stage, CAST(count(*) AS BIGINT) AS n,
       |       CAST(coalesce(sum(toks), 0) AS BIGINT) AS mass,
       |       coalesce(bit_xor(CAST((md5_number_lower(text) >> 4) AS BIGINT)), 0) AS fp
       |FROM shardrows
       |ORDER BY stage""".stripMargin)
}
