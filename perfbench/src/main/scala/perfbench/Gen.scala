package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.security.MessageDigest
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generator for the workloads.
  *
  * Every input is a pure function of (workload, seed, scale) plus the
  * committed seed-corpus statistics (`data/seed_corpus.tsv`, derived from
  * the sf0.1 `documents` table by `tools/derive_seed_corpus.py`): word
  * frequencies, document-length quantiles and the lang/source shares. No
  * program code is used to make inputs — the files are written here in
  * the documented on-disk formats (oplog document lines, JSON-lines crawl
  * records).
  *
  * Writes go through an [[Out]], so the same generator can run against
  * the disk (the real inputs) or digest only (the determinism self check
  * for the next seed).
  */
object Gen {

  /** Where generated files go: every file is digested in write order
    * (`rel` is relative to the input root) and, unless `root` is empty,
    * written under it. */
  final class Out(root: Option[Path]) {
    private val md = MessageDigest.getInstance("SHA-256")
    private var n = 0L
    /** Digest a file the caller lands later (the live-tail files). */
    def hold(rel: String, b: Array[Byte]): Unit = {
      md.update(rel.getBytes(UTF_8)); md.update(0.toByte); md.update(b)
      n += b.length
    }
    def file(rel: String, b: Array[Byte]): Unit = {
      hold(rel, b)
      root.foreach(r => write(r.resolve(rel), b))
    }
    def digest: String = md.clone().asInstanceOf[MessageDigest].digest()
      .take(12).map("%02x".format(_)).mkString
    def bytes: Long = n
  }

  /** Atomic file landing: a reader never sees a partial file. */
  def write(p: Path, b: Array[Byte]): Unit = {
    Files.createDirectories(p.getParent)
    val tmp = p.resolveSibling("." + p.getFileName + ".tmp")
    Files.write(tmp, b)
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE)
  }

  // ------------------------------------------------------------ corpus

  /** Seed-corpus statistics from the committed TSV. */
  final case class SeedCorpus(words: Seq[(String, Long)],
      docLenQ: Seq[Int], langs: Seq[(String, Long)],
      sources: Seq[(String, Long)])

  def loadSeedCorpus(path: Path): SeedCorpus = {
    val rows = new String(Files.readAllBytes(path), UTF_8).split("\n").toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split("\t"))
    def kind(k: String) = rows.filter(_(0) == k).map(r => (r(1), r(2).toLong))
    SeedCorpus(kind("word"), kind("doclen_q").map(_._2.toInt),
      kind("lang"), kind("source"))
  }

  /** Word sampler: the sf0.1 words first, then pseudo-words built from
    * their syllables (2- and 3-syllable combinations), drawn Zipf-like
    * (rank^-1) over that fixed order — a realistic long tail, so random
    * documents share few 3-shingles and the dedup stages see a natural
    * candidate load. The vocabulary is seed-independent. */
  final class Words(sc: SeedCorpus) {
    private val base = sc.words.map(_._1)
    val vocab: Array[String] = {
      val syl = base.flatMap(_.grouped(3)).filter(_.length >= 2).distinct.sorted
      val two = for (a <- syl; b <- syl if a != b) yield a + b
      val r = new SplittableRandom(0x5eedL)
      val three = Iterator.continually(syl(r.nextInt(syl.size)) +
        syl(r.nextInt(syl.size)) + syl(r.nextInt(syl.size))).distinct
        .take(VocabThree).toSeq
      (base ++ two ++ three).distinct.toArray
    }
    private val cdf: Array[Double] = {
      val w = vocab.indices.map(i => 1.0 / (i + 1))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def draw(r: SplittableRandom): String = {
      val x = r.nextDouble()
      var i = java.util.Arrays.binarySearch(cdf, x)
      if (i < 0) i = -i - 1
      vocab(math.min(i, vocab.length - 1))
    }
    /** Document length drawn from the sf0.1 quantiles. */
    def docLen(r: SplittableRandom): Int = {
      val q = sc.docLenQ
      val i = r.nextInt(q.length - 1)
      q(i) + r.nextInt(math.max(1, q(i + 1) - q(i) + 1))
    }
  }

  /** Three-syllable pseudo-words in the vocabulary. */
  val VocabThree = 20000

  private val stops = Array("the", "of", "and", "to", "with", "that", "be")

  /** One prose sentence-line of `n` words with Gopher stop words mixed
    * in (every clean paragraph passes the quality gates). */
  def para(w: Words, r: SplittableRandom, n: Int): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append(if (i % 5 == 2) stops(r.nextInt(stops.length)) else w.draw(r))
      i += 1
    }
    sb.result()
  }

  def jsonStr(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\""); case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n"); case c => sb.append(c)
    }
    sb.append('"').result()
  }

  // --------------------------------------------------------- crawl docs

  /** A crawl page: id, url, html, and its plain text (the paragraphs the
    * html's main-text extraction yields). */
  final case class Page(id: Long, url: String, html: String, text: String)

  def siteOf(id: Long, sites: Int): String = s"site${id % sites}.example.com"
  def urlOf(id: Long, sites: Int): String =
    s"https://${siteOf(id, sites)}/p/$id"

  /** html with a short title (dropped by extraction: < 20 chars), the
    * paragraphs as `<p>` blocks, and a link-dense nav block (dropped by
    * the anchor-density rule) pointing at `links`. */
  def html(title: String, paras: Seq[String], links: Seq[(String, String)])
      : String = {
    val sb = new StringBuilder("<html><head><title>")
    sb.append(title).append("</title></head><body><h1>").append(title)
      .append("</h1>")
    paras.foreach(p => sb.append("<p>").append(p).append("</p>"))
    if (links.nonEmpty) {
      sb.append("<div class=\"nav\">")
      links.foreach { case (u, t) =>
        sb.append("<a href=\"").append(u).append("\">").append(t)
          .append("</a> ") }
      sb.append("</div>")
    }
    sb.append("</body></html>").result()
  }

  def cleanPage(w: Words, r: SplittableRandom, id: Long, sites: Int,
      maxLinkId: Long, nLinks: Int): Page = {
    val nParas = 2 + r.nextInt(3)
    val paras = (0 until nParas).map(_ =>
      para(w, r, math.max(30, w.docLen(r))))
    val links = (0 until nLinks).map { _ =>
      val t = 1 + r.nextLong(math.max(1L, maxLinkId))
      (urlOf(t, sites), w.draw(r))
    }
    Page(id, urlOf(id, sites), html(s"page $id", paras, links),
      paras.mkString("\n"))
  }

  // ------------------------------------------------------- cdc_index

  final case class CdcInputs(backlogFiles: Int, backlogRows: Long,
      liveFiles: Seq[(String, Array[Byte], Long)], liveRows: Long,
      pages: Seq[Page], bytes: Long, digest: String, sites: Int)

  /** Oplog document line (the `oplog.rs` shape) for one crawl page. */
  private def oplogInsert(ts: Long, p: Page): String =
    s"""{"ts":{"$$timestamp":{"t":$ts,"i":1}},"h":${p.id * 7919},"v":2,"op":"i",""" +
      s""""ns":"crawl.pages","o":{"_id":${p.id},"doc_id":${p.id},""" +
      s""""url":${jsonStr(p.url)},"html":${jsonStr(p.html)},"text":${jsonStr(p.text)}}}"""

  /** Crawl records as oplog files: `backlogFiles` files landed before
    * the drive (written now) and `liveFiles` files returned in memory
    * for the live-tail generator to land on its schedule. Each file also
    * carries a noop and a foreign-namespace op the source must skip,
    * and a delete the opfilter must drop. Links point at earlier pages
    * and, sometimes, forward at pages not landed yet. */
  def cdcIndex(out: Out, w: Words, seed: Long, backlogFiles: Int,
      liveFiles: Int, perFile: Int, sites: Int): CdcInputs = {
    val r = new SplittableRandom(seed ^ 0xcdcL)
    val total = (backlogFiles + liveFiles) * perFile
    var id = 0L
    val pages = mutable.ArrayBuffer.empty[Page]
    val live = mutable.ArrayBuffer.empty[(String, Array[Byte], Long)]
    (0 until backlogFiles + liveFiles).foreach { f =>
      val sb = new StringBuilder
      (0 until perFile).foreach { _ =>
        id += 1
        val p = cleanPage(w, r, id, sites,
          maxLinkId = math.min(total.toLong, id + perFile), nLinks = 1 + r.nextInt(4))
        pages += p
        sb.append(oplogInsert(1700000000L + id, p)).append('\n')
      }
      val ts = 1700000000L + id
      sb.append(s"""{"ts":{"$$timestamp":{"t":$ts,"i":2}},"h":0,"v":2,"op":"n","ns":"","o":{"msg":"periodic noop"}}""").append('\n')
      sb.append(s"""{"ts":{"$$timestamp":{"t":$ts,"i":3}},"h":1,"v":2,"op":"i","ns":"crawl.sessions","o":{"id":$id,"user":"u$id"}}""").append('\n')
      sb.append(s"""{"ts":{"$$timestamp":{"t":$ts,"i":4}},"h":2,"v":2,"op":"d","ns":"crawl.pages","o":{"_id":${-id}}}""").append('\n')
      val name = f"oplog-$f%05d.json"
      val b = sb.result().getBytes(UTF_8)
      if (f < backlogFiles) out.file(s"oplog/$name", b)
      else {
        out.hold(s"live/$name", b)
        live += ((name, b, id))
      }
    }
    CdcInputs(backlogFiles, backlogFiles.toLong * perFile, live.toSeq,
      liveFiles.toLong * perFile, pages.toSeq, out.bytes, out.digest, sites)
  }

  // ---------------------------------------------------- curate_batch

  final case class CurateInputs(dir: String, docs: Long, bytes: Long,
      exactGroups: Seq[Seq[Long]], plantedRemovals: Set[Long],
      clean: Set[Long], digest: String, props: Map[String, Any])

  /** A crawl corpus as JSON-lines (doc_id, url, html, text — the text
    * is exactly the html's main-text extraction) with planted
    * groups: exact-dup groups (identical pages under new ids and urls),
    * near-dups (a copy with a few words changed — Jaccard well above
    * 1/2 over word 3-shingles), and low-quality pages of four kinds
    * (too short, line-repetitive, symbol spam, blocklisted domain). */
  /** The registered domain the curate chain's url_filter blocks. */
  val blockedDomain = "blocked.example"

  def curateBatch(out: Out, w: Words, seed: Long, docs: Int,
      files: Int): CurateInputs = {
    val r = new SplittableRandom(seed ^ 0xc0a7eL)
    val sites = 97
    val exactShare = 0.08; val nearShare = 0.06; val lowShare = 0.08
    val recs = mutable.ArrayBuffer.empty[(Long, String, String, String)]
    def rec(j: Long, url: String, paras: Seq[String]): Unit =
      recs += ((j, url, html(s"page $j", paras, Nil), paras.mkString("\n")))
    val groups = mutable.ArrayBuffer.empty[Seq[Long]]
    val removals = mutable.Set.empty[Long]
    val clean = mutable.Set.empty[Long]
    var id = 0L
    def next(): Long = { id += 1; id }
    var nExact = 0; var nNear = 0; var nLow = 0
    while (recs.size < docs) {
      val x = r.nextDouble()
      val i = next()
      val p = cleanPage(w, r, i, sites, maxLinkId = docs.toLong, nLinks = 2)
      recs += ((i, p.url, p.html, p.text))
      if (x < exactShare) {
        // 1-3 exact copies under new ids: keep exactly one per group
        val copies = (1 to 1 + r.nextInt(3)).map { _ =>
          val j = next(); recs += ((j, urlOf(j, sites), p.html, p.text)); j }
        groups += (i +: copies)
        removals ++= copies
        nExact += copies.size + 1
      } else if (x < exactShare + nearShare) {
        // a near copy: every 20th word replaced, same paragraph breaks
        val j = next()
        val nearText = p.text.split("\n").map(_.split(" ").zipWithIndex
          .map { case (t, k) => if (k % 20 == 7) w.draw(r) + "x" else t }
          .mkString(" ")).toSeq
        rec(j, urlOf(j, sites), nearText)
        removals += j
        clean += i
        nNear += 2
      } else if (x < exactShare + nearShare + lowShare) {
        val j = next()
        val kind = r.nextInt(4)
        val low = kind match {
          case 0 => Seq(para(w, r, 25))
          case 1 =>
            val line = para(w, r, 12)
            Seq.fill(8)(line) :+ para(w, r, 30)
          case 2 => Seq(para(w, r, 60).split(" ").map(t => s"#$t").mkString(" "))
          case _ => Seq(para(w, r, 80))
        }
        val url =
          if (kind == 3) s"https://spam${j % 7}.$blockedDomain/p/$j"
          else urlOf(j, sites)
        rec(j, url, low)
        removals += j
        clean += i
        nLow += 1
      } else clean += i
    }
    val per = (recs.size + files - 1) / files
    recs.grouped(per).zipWithIndex.foreach { case (chunk, f) =>
      val sb = new StringBuilder
      chunk.foreach { case (i, u, h, t) =>
        sb.append(s"""{"doc_id":$i,"url":${jsonStr(u)},"html":${jsonStr(h)},""" +
          s""""text":${jsonStr(t)}}""")
          .append('\n')
      }
      out.file(f"crawl/part-$f%03d.json", sb.result().getBytes(UTF_8))
    }
    val n = recs.size.toDouble
    val props = Map[String, Any]("docs" -> recs.size, "bytes" -> out.bytes,
      "exact_dup_share" -> nExact / n, "near_dup_share" -> nNear / n,
      "low_quality_share" -> nLow / n, "exact_groups" -> groups.size,
      "files" -> files)
    CurateInputs("crawl", recs.size.toLong, out.bytes, groups.toSeq,
      removals.toSet, clean.toSet -- removals, out.digest, props)
  }
}
