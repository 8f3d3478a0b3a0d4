package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generator. Every byte it writes is a pure function of the
  * seed (and, for deltas, of the delta number), so a run can be replayed
  * exactly and two seeds give different inputs. The program under test only
  * ever sees the files written here and the query strings built from them.
  *
  * Every share, size and skew below (law-type mix, ledd counts, long and
  * list ledd, delta size and mix, Zipf exponents, crawl plantings) is an
  * assumption chosen to exercise each code path, not a measurement of
  * Lovdata's collection, its change history or a real crawl.
  */
object Gen {

  /** Deterministic stream keyed by any tuple of longs (SplittableRandom's
    * algorithm is fixed by its specification, so streams agree across JVMs).
    */
  def rng(keys: Long*): SplittableRandom = {
    var h = 0x9E3779B97F4A7C15L
    keys.foreach { k => h = java.lang.Long.rotateLeft(h ^ (k * 0xBF58476D1CE4E5B9L), 29) * 0x94D049BB133111EBL }
    new SplittableRandom(h)
  }

  def sha256Hex(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b).map(x => f"$x%02x").mkString

  def write(p: Path, s: String): Array[Byte] = {
    Files.createDirectories(p.getParent)
    val b = s.getBytes(UTF_8)
    Files.write(p, b)
    b
  }

  def shuffle[T](xs: Vector[T], r: SplittableRandom): Vector[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a.toVector.asInstanceOf[Vector[T]]
  }

  /** Zipf(s) sampler over ranks 0..n-1 by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  // ------------------------------------------------------------ Lovdata corpus

  /** ASCII-only vocabulary: the engine's word tokenizer counts non-ASCII
    * letters as symbols, which would distort token budgets.
    */
  private val legalWords = Vector(
    "og", "i", "til", "som", "av", "for", "med", "det", "den", "skal", "kan", "etter",
    "ved", "om", "eller", "loven", "departementet", "forskrift", "bestemmelse", "vedtak",
    "kommunen", "staten", "retten", "plikt", "krav", "melding", "tilsyn", "saken", "part",
    "frist", "klage", "avgift", "tillatelse", "virksomhet", "eier", "tiltak", "bruk",
    "helse", "miljo", "arbeid", "sikkerhet", "opplysninger", "personer", "kapittel")
  private val syllables = Vector(
    "ka", "re", "mo", "sti", "lan", "ver", "dek", "fo", "gun", "ha", "ib", "jor", "kel",
    "lu", "mer", "nos", "pe", "ra", "sel", "tu", "ul", "vi", "bra", "dre", "fri", "gro")
  private val vocab: Vector[String] = legalWords ++ {
    val r = rng(17L) // fixed: the vocabulary is part of the benchmark, not the seed
    val seen = mutable.LinkedHashSet.empty[String] ++ legalWords
    while (seen.size < 2400) {
      val n = 2 + r.nextInt(3)
      seen += (0 until n).map(_ => syllables(r.nextInt(syllables.size))).mkString
    }
    seen.toVector.drop(legalWords.size)
  }
  private val wordZipf = new Zipf(vocab.size, 1.05)

  def sentence(r: SplittableRandom): String = {
    val n = 8 + r.nextInt(18)
    val ws = (0 until n).map(_ => vocab(wordZipf.sample(r)))
    ws.head.capitalize + " " + ws.tail.mkString(" ") + "."
  }

  def sentences(r: SplittableRandom, n: Int): String = (0 until n).map(_ => sentence(r)).mkString(" ")

  /** Token budget a ledd must exceed to take the chunker's sentence split
    * (`Settings()` default `chunkMaxTokens`).
    */
  val LongLeddTokens = 6800

  val Datasets = Vector("gjeldende-lover.tar.bz2", "gjeldende-sentrale-forskrifter.tar.bz2")

  final case class DocRef(num: Int, dataset: String, relpath: String) {
    def docId: String = relpath.substring(relpath.lastIndexOf('/') + 1).stripSuffix(".xml")
    def dir: String = dataset.stripSuffix(".tar.bz2")
  }

  def docRef(num: Int): DocRef =
    if (num % 4 == 3) DocRef(num, Datasets(1), f"sf/sf-$num%06d.xml")
    else DocRef(num, Datasets(0), f"nl/nl-$num%06d.xml")

  private final case class Shape(kind: Int, ledd: Int, longLedd: Int, listLedd: Int)

  /** Document shape from (seed, num) alone, so every version of a document
    * keeps its law type and size: 60% standard laws, 20% change laws, 20%
    * simple laws; ledd counts are Pareto-tailed (median ~5, p99 ~65); about
    * 3% of standard and simple laws carry one ledd long enough to force the
    * sentence split.
    */
  private def shape(seed: Long, num: Int): Shape = {
    val r = rng(seed, num.toLong, 1L)
    val u = r.nextDouble()
    val kind = if (u < 0.6) 0 else if (u < 0.8) 1 else 2
    val ledd = math.min(250, math.ceil(3.0 / math.pow(1.0 - r.nextDouble(), 1.0 / 1.5)).toInt)
    val longLedd = if (kind != 1 && r.nextDouble() < 0.03) r.nextInt(ledd) else -1
    val listLedd = if (kind == 0 && r.nextDouble() < 0.15) r.nextInt(ledd) else -1
    Shape(kind, ledd, longLedd, listLedd)
  }

  /** Ledd index the edit that made `version` rewrote. */
  private def editedLedd(editSeed: Long, num: Int, version: Int, nLedd: Int): Int =
    rng(editSeed, num.toLong, version.toLong, 2L).nextInt(nLedd)

  /** XML of document `num` at `version`: version 0 is the document as first
    * published (from `seed`); each later version rewrites one ledd, as an
    * amendment does, with text drawn from `editSeed`.
    */
  def docXml(seed: Long, num: Int, version: Int, editSeed: Long): String = {
    val sh = shape(seed, num)
    val leddVer = Array.fill(sh.ledd)(0)
    (1 to version).foreach(v => leddVer(editedLedd(editSeed, num, v, sh.ledd)) += 1)
    val ref = docRef(num)
    def leddRng(j: Int, salt: Long) =
      rng(if (leddVer(j) == 0) seed else editSeed, num.toLong, j.toLong, leddVer(j).toLong, salt)
    def leddText(j: Int): String = {
      val r = leddRng(j, 3L)
      if (j == sh.longLedd) {
        // ~16 tokens per sentence; aim past the max-token bound
        sentences(r, LongLeddTokens / 16 + 20 + r.nextInt(100))
      } else {
        val n = 1 + math.min(12, (1.0 / math.pow(1.0 - r.nextDouble(), 0.7)).toInt)
        val body = sentences(r, n)
        if (r.nextInt(6) == 0)
          body + s""" Se <a href="/lov/${r.nextInt(9000)}/p${1 + r.nextInt(40)}">paragraf ${1 + r.nextInt(40)}</a>."""
        else body
      }
    }
    def legalP(id: String, j: Int, attrs: String): String =
      if (j == sh.listLedd) {
        val r = leddRng(j, 4L)
        val items = (0 until 3 + r.nextInt(8)).map { i =>
          s"""<li data-name="${('a' + i).toChar})">${sentences(r, 1 + r.nextInt(3))}</li>"""
        }.mkString
        s"""<article class="legalP" id="$id"$attrs>${leddText(j)}<ol>$items</ol></article>"""
      } else s"""<article class="legalP" id="$id"$attrs>${leddText(j)}</article>"""

    val title = s"Lov om ${vocab(num % 600 + 44)} og ${vocab((num * 7) % 900 + 44)}"
    val sb = new StringBuilder
    sb ++= s"""<?xml version="1.0" encoding="UTF-8"?>
              |<html lang="no"><head><title>$title</title></head><body>
              |<main class="documentBody" id="dokument"><h1>$title</h1>
              |""".stripMargin
    sh.kind match {
      case 0 => // standard law: chapters > articles (paragraphs) > ledd
        val r = rng(seed, num.toLong, 5L)
        var j = 0; var p = 1; var chapter = 1
        while (j < sh.ledd) {
          sb ++= s"""<section class="section"><h2>Kapittel $chapter. ${vocab(44 + r.nextInt(500))}</h2>\n"""
          val arts = 1 + r.nextInt(4)
          var a = 0
          while (a < arts && j < sh.ledd) {
            sb ++= s"""<article class="legalArticle" data-lovdata-URL="NL/lov/${ref.docId}/p$p" id="paragraf-$p">"""
            sb ++= s"""<h2 class="legalArticleHeader"><span class="legalArticleValue">&#167; $p</span>"""
            sb ++= s"""<span class="legalArticleTitle">${vocab(44 + r.nextInt(800)).capitalize}</span></h2>\n"""
            val nl = 1 + r.nextInt(4)
            var l = 1
            while (l <= nl && j < sh.ledd) {
              sb ++= legalP(s"paragraf-$p-ledd-$l", j,
                s""" data-absoluteaddress="/lov/${ref.docId}/p$p/ledd$l"""") + "\n"
              l += 1; j += 1
            }
            sb ++= "</article>\n"
            a += 1; p += 1
          }
          sb ++= "</section>\n"
          chapter += 1
        }
      case 1 => // change law: sections of legalP grouped by token budget
        var j = 0; var s = 1
        while (j < sh.ledd) {
          sb ++= s"""<section class="section"><h2>${"I" * math.min(s, 3)} $s</h2>\n"""
          var k = 0
          while (k < 6 && j < sh.ledd) { sb ++= legalP(s"change-$s-$k", j, "") + "\n"; k += 1; j += 1 }
          sb ++= "</section>\n"
          s += 1
        }
      case _ => // simple law: legalP directly under the document body
        (0 until sh.ledd).foreach(j => sb ++= legalP(s"ledd-${j + 1}", j, "") + "\n")
    }
    sb ++= "</main></body></html>\n"
    sb.toString
  }

  private def stateJson(entries: Seq[(DocRef, String, String)]): String = {
    val byDs = entries.groupBy(_._1.dataset)
    Datasets.filter(byDs.contains).map { ds =>
      val files = byDs(ds).sortBy(_._1.relpath).map { case (d, status, sha) =>
        s"""      "${d.relpath}": {"status": "$status", "sha256": "$sha"}"""
      }.mkString(",\n")
      s"""    "$ds": {"files": {\n$files\n    }}"""
    }.mkString("{\"raw_datasets\": {\n", ",\n", "\n}}\n")
  }

  final case class CorpusStats(docs: Int, bytes: Long, sizesKb: Array[Double])
  final case class Delta(
      k: Int, state: Path, modified: Seq[String], added: Seq[String], removed: Seq[String],
      repeatedKeys: Int)

  /** A Lovdata-shaped corpus on disk (`extracted/<dataset>/<relpath>`) with
    * its lovlig `state.json`, plus the CDC delta sequence applied to it in
    * place. Docs in the initial state are all `added`. The initial corpus
    * comes from `seed`; which documents each delta touches and the text it
    * writes come from `deltaSeed`.
    */
  final class Corpus(val root: Path, val seed: Long, val nDocs: Int, val deltaSeed: Long) {
    def this(root: Path, seed: Long, nDocs: Int) = this(root, seed, nDocs, seed)
    val extracted: Path = root.resolve("extracted").toAbsolutePath.normalize
    /** num -> (version, sha256, seed the document was first published from) */
    val live = mutable.LinkedHashMap.empty[Int, (Int, String, Long)]
    private var nextNum = nDocs
    private val everModified = mutable.LinkedHashSet.empty[Int]
    private lazy val zipf = new Zipf(nDocs, 1.1)
    /** rank -> document number: the documents amendments favour belong to
      * the corpus, so they stay hot across delta seeds
      */
    private lazy val rankToNum: Vector[Int] = shuffle(Vector.range(0, nDocs), rng(seed, 6L))

    def path(num: Int): Path = { val d = docRef(num); extracted.resolve(d.dir).resolve(d.relpath) }
    def docId(num: Int): String = docRef(num).docId
    def liveDocIds: Seq[String] = live.keys.toSeq.map(docId).sorted

    private def put(num: Int, version: Int, born: Long): Array[Byte] = {
      val b = write(path(num), docXml(born, num, version, deltaSeed))
      live(num) = (version, sha256Hex(b), born)
      b
    }

    def writeInitial(): CorpusStats = {
      val sizes = (0 until nDocs).map(n => put(n, 0, seed).length.toLong)
      write(root.resolve("state.json"),
        stateJson((0 until nDocs).map(n => (docRef(n), "added", live(n)._2))))
      CorpusStats(nDocs, sizes.sum, sizes.map(_ / 1024.0).sorted.toArray)
    }

    def stateFile: Path = root.resolve("state.json")

    private def stateTsv: Path = root.resolve("generator.tsv")

    /** Save what later deltas need to know about this corpus's history. */
    def save(): Unit =
      write(stateTsv, (s"next\t$nextNum" +: live.toSeq.map { case (num, (v, sha, born)) =>
        s"$num\t$v\t$sha\t$born\t${everModified.contains(num)}"
      }).mkString("", "\n", "\n"))

    /** Adopt a corpus `save`d under `root` (a copy of it) without writing it
      * again; later deltas draw from this corpus's `deltaSeed`.
      */
    def attach(): CorpusStats = {
      val lines = new String(Files.readAllBytes(stateTsv), UTF_8).split("\n")
      nextNum = lines.head.split("\t")(1).toInt
      val sizes = lines.tail.map { l =>
        val Array(num, v, sha, born, modified) = l.split("\t")
        live(num.toInt) = (v.toInt, sha, born.toLong)
        if (modified.toBoolean) everModified += num.toInt
        Files.size(path(num.toInt))
      }
      CorpusStats(live.size, sizes.sum, sizes.map(_ / 1024.0).sorted)
    }

    /** Apply delta `k` to the files and write its `state-k.json`: about
      * `frac` of live docs change, 60% modified (Zipf-skewed keys, so some
      * docs change again and again), 20% added, 20% removed.
      */
    def nextDelta(k: Int, frac: Double = 0.015): Delta = {
      val r = rng(deltaSeed, 7L, k.toLong)
      val n = math.max(5, math.round(live.size * frac).toInt)
      val nMod = n * 3 / 5; val nAdd = n / 5; val nRem = n - nMod - nAdd
      val mod = mutable.LinkedHashSet.empty[Int]
      var guard = 0
      while (mod.size < nMod && guard < 100000) {
        val num = rankToNum(zipf.sample(r))
        if (live.contains(num)) mod += num
        guard += 1
      }
      val liveNums = live.keys.toArray
      val rem = mutable.LinkedHashSet.empty[Int]
      while (rem.size < nRem) {
        val num = liveNums(r.nextInt(liveNums.length))
        if (!mod.contains(num)) rem += num
      }
      val repeated = mod.count(everModified.contains)
      everModified ++= mod
      mod.foreach { num => val (v, _, born) = live(num); put(num, v + 1, born) }
      val removedEntries = rem.toSeq.map { num =>
        val sha = live(num)._2
        Files.delete(path(num)); live.remove(num)
        (docRef(num), "removed", sha)
      }
      val add = (0 until nAdd).map { _ => val num = nextNum; nextNum += 1; put(num, 0, deltaSeed); num }
      val status = (mod.map(_ -> "modified") ++ add.map(_ -> "added")).toMap
      val entries = live.toSeq.map { case (num, (_, sha, _)) =>
        (docRef(num), status.getOrElse(num, "unchanged"), sha)
      } ++ removedEntries
      val st = root.resolve(s"state-$k.json")
      write(st, stateJson(entries))
      Delta(k, st, mod.toSeq.map(docId), add.map(docId), rem.toSeq.map(docId), repeated)
    }
  }

  // --------------------------------------------------------------- web crawl

  /** Crawl text model: a sparse bigram chain (each word has three
    * successors) over 300 words, so real pages have low bigram perplexity
    * and unrelated pages share few words (MinHash sees them as distinct).
    */
  private val crawlWords: Vector[String] = {
    val stop = Vector("the", "of", "and", "to", "with", "that", "have", "be")
    val r = rng(19L)
    val seen = mutable.LinkedHashSet.empty[String] ++ stop
    while (seen.size < 300) {
      seen += (0 until 2 + r.nextInt(2)).map(_ => syllables(r.nextInt(syllables.size))).mkString
    }
    seen.toVector
  }
  private val successors: Array[Array[Int]] = {
    val r = rng(23L)
    Array.fill(crawlWords.size)(Array.fill(3)(r.nextInt(crawlWords.size)))
  }
  /** A second chain over the same words: eval passages follow it, so their
    * 5-grams almost never occur in pages that did not copy them.
    */
  private val evalSuccessors: Array[Array[Int]] = {
    val r = rng(29L)
    Array.fill(crawlWords.size)(Array.fill(3)(r.nextInt(crawlWords.size)))
  }

  private def walk(r: SplittableRandom, n: Int, succ: Array[Array[Int]], start: Int): Seq[String] = {
    var w = start
    (0 until n).map { _ => val s = crawlWords(w); w = succ(w)(r.nextInt(3)); s }
  }

  val BoilerLine = "Free hosting provided by Example Corp new terms apply today."

  /** Page HTML in the shape the program's prepare stage expects from a crawl. */
  def pageHtml(body: String): String =
    s"<html><body><p>$BoilerLine</p><p>$body.</p><p>click here</p>" +
      "<p>copyright 2024 example corp all rights reserved</p>" +
      "<script type=\"text/javascript\">var a = 1 < 2;</script><!-- nav --></body></html>"

  final case class CrawlStats(
      pages: Int, exactDups: Int, nearDups: Int, short: Int, repetitive: Int, gibberish: Int,
      leaked: Int, evalItems: Int, leakedEvalItems: Int, sources: Int) {
    def plantedDupFrac: Double = (exactDups + nearDups).toDouble / pages
  }

  /** Write `pages` crawl pages as `nFiles` WARC.gz files under `dir/warc`,
    * the same pages as extracted `(doc_id, source, lang, html)` rows (page
    * number, site, `und`, HTML) in `dir/rows.jsonl`, and the eval set as
    * `dir/eval.jsonl`. Planted shares: 4% exact and 6%
    * near duplicates (same words, rotated so no 10-word line repeats), 5%
    * short, 4% repetitive and 5% gibberish pages, and 6% of pages that
    * copy an eval item.
    */
  def writeCrawl(dir: Path, seed: Long, pages: Int, nFiles: Int = 4, nEval: Int = 40): CrawlStats = {
    val r = rng(seed, 8L)
    val nSources = 24
    val evalItems = (0 until nEval).map { i =>
      val er = rng(seed, 9L, i.toLong)
      walk(er, 14 + er.nextInt(6), evalSuccessors, er.nextInt(crawlWords.size)).mkString(" ")
    }
    val bodies = mutable.ArrayBuffer.empty[String]
    var exact, near, short, rep, gib, leak = 0
    val leakedItems = mutable.HashSet.empty[Int]
    while (bodies.size < pages) {
      val u = r.nextDouble()
      val normal = walk(r, 70 + r.nextInt(80), successors, r.nextInt(8)).mkString(" ")
      bodies += (
        if (u < 0.04 && bodies.nonEmpty) { exact += 1; bodies(r.nextInt(bodies.size)) }
        else if (u < 0.10 && bodies.nonEmpty) {
          near += 1
          val ws = bodies(r.nextInt(bodies.size)).split(" ")
          val cut = 5 + 10 * r.nextInt(math.max(1, ws.length / 10 - 1))
          (ws.drop(cut) ++ ws.take(cut)).mkString(" ")
        } else if (u < 0.15) { short += 1; walk(r, 12 + r.nextInt(20), successors, 0).mkString(" ") }
        else if (u < 0.19) {
          rep += 1
          val phrase = walk(r, 3, successors, 0).mkString(" ")
          Seq.fill(25 + r.nextInt(10))(phrase).mkString(" ")
        } else if (u < 0.24) {
          gib += 1
          ("the" +: (0 until 80 + r.nextInt(40)).map(_ => crawlWords(r.nextInt(crawlWords.size)))).mkString(" ")
        } else if (u < 0.30) {
          leak += 1
          val i = r.nextInt(nEval); leakedItems += i
          val ws = normal.split(" ")
          val at = r.nextInt(ws.length)
          (ws.take(at) ++ Seq(evalItems(i)) ++ ws.drop(at)).mkString(" ")
        } else normal)
    }
    def site(i: Int) = s"site${i % nSources}"
    val warc = dir.resolve("warc")
    Files.createDirectories(warc)
    bodies.zipWithIndex.groupBy(_._2 % nFiles).toSeq.sortBy(_._1).foreach { case (f, pgs) =>
      val out = new java.util.zip.GZIPOutputStream(
        Files.newOutputStream(warc.resolve(f"crawl-$f%02d.warc.gz")), 1 << 16)
      pgs.foreach { case (body, i) =>
        val url = s"https://${site(i)}.example/${vocab(44 + i % 900)}/page-$i"
        val b = pageHtml(body).getBytes(UTF_8)
        out.write((s"WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: $url\r\n" +
          s"WARC-Date: 2024-01-01T00:00:00Z\r\nContent-Type: text/html\r\n" +
          s"Content-Length: ${b.length}\r\n\r\n").getBytes(UTF_8))
        out.write(b)
        out.write("\r\n\r\n".getBytes(UTF_8))
      }
      out.close()
    }
    write(dir.resolve("rows.jsonl"), bodies.zipWithIndex.map { case (body, i) =>
      s"""{"doc_id": $i, "source": "${site(i)}", "lang": "und", "html": ${Harness.jsonString(pageHtml(body))}}"""
    }.mkString("", "\n", "\n"))
    write(dir.resolve("eval.jsonl"), evalItems.map(t => s"""{"text": "$t"}""").mkString("", "\n", "\n"))
    CrawlStats(pages, exact, near, short, rep, gib, leak, nEval, leakedItems.size, nSources)
  }

  /** Hex digest over every file under `dir` (relative path + bytes), for
    * the same-seed/different-seed test.
    */
  def treeDigest(dir: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val files = {
      val s = Files.walk(dir)
      try s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path]).sortBy(_.toString)
      finally s.close()
    }
    files.foreach { f =>
      md.update(dir.relativize(f).toString.getBytes(UTF_8))
      md.update(Files.readAllBytes(f))
    }
    md.digest().map(x => f"$x%02x").mkString
  }

  /** Generate every input kind for `seed` under `dir` (corpus, three
    * deltas, crawl) — the entry point of the determinism test.
    */
  def main(args: Array[String]): Unit = {
    val dir = java.nio.file.Paths.get(args(0))
    val seed = args(1).toLong
    val c = new Corpus(dir.resolve("corpus"), seed, 300)
    c.writeInitial()
    (0 until 3).foreach(c.nextDelta(_))
    writeCrawl(dir.resolve("crawl"), seed, 200)
    println(treeDigest(dir))
  }
}
