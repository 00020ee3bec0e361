package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.nio.file.{Files, Path}
import java.util.zip.{CRC32, GZIPOutputStream}
import scala.collection.mutable
import scala.util.Random

/** Seeded crawl-archive generator for the `archive_backfill` workload.
  *
  * Writes gzip WARC archives (one gzip member per record, the ISO 28500
  * layout) whose HTML pages carry stopword-scaffolded prose that passes
  * the ingest quality gate, plus PNG media records the pages reference.
  * It plants a known set of drops, each decidable without knowing which
  * record ids the scanner assigns:
  *
  *  - exact re-crawl: a page copying an indexed text (history or an
  *    earlier batch's survivor) under a new URL;
  *  - near-dup re-crawl: the same with one word replaced (word
  *    3-shingle Jaccard about 0.95, above the 0.8 judge threshold);
  *  - media re-encode: an indexed image's pixels in a PNG with an extra
  *    text chunk, so the bytes differ and the perceptual hashes match;
  *  - gallery page: fresh prose whose every referenced image is a
  *    re-encode, dropped by the doc-level media gate.
  *
  * Every re-crawl and re-encode copies from history or from a strictly
  * earlier micro-batch, never from its own batch: batch-internal
  * elections keep the smallest record id, and record ids hash the
  * archive's absolute path, so an intra-batch pair would make the
  * survivor depend on where the checkout lives. Archive modification
  * times increase with the archive index, which fixes each batch's
  * membership under `maxFilesPerTrigger`.
  */
object ArchiveGen {

  final case class Params(archives: Int, pagesPerArchive: Int,
      filesPerTrigger: Int, historyDocs: Int, historyImages: Int)

  /** One archive's records as (target URI, payload) in file order. */
  final case class Archive(name: String, records: Seq[(String, Array[Byte])])

  final case class Fixture(archives: Seq[Archive],
      historyDocs: Seq[(Long, String)], historyImages: Seq[(Long, Array[Byte])],
      docSurvivors: Set[String], mediaSurvivors: Set[String],
      planted: Map[String, Int])

  private val Scaffolds = Seq(
    Seq("the", "*", "of", "the", "*", "and", "the", "*"),
    Seq("a", "*", "in", "the", "*", "was", "*"),
    Seq("with", "the", "*", "for", "a", "*", "that", "*"),
    Seq("on", "the", "*", "it", "is", "*", "to", "the", "*"),
    Seq("by", "this", "*", "as", "the", "*", "at", "*"))

  private val Sentences = 12

  /** Page classes and their shares of the pages; `fresh` takes the rest. */
  private val Shares = Map("fresh" -> 0.3, "article" -> 0.25, "gallery" -> 0.1,
    "exact" -> 0.17, "near" -> 0.18)

  private def vocabulary(rng: Random, n: Int): IndexedSeq[String] = {
    val syll = for (c <- "bcdfghklmnprstvz"; v <- "aeiou") yield s"$c$v"
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < n)
      seen += Seq.fill(2 + rng.nextInt(3))(syll(rng.nextInt(syll.size))).mkString
    seen.toIndexedSeq
  }

  private def prose(rng: Random, vocab: IndexedSeq[String]): String =
    Seq.fill(Sentences) {
      Scaffolds(rng.nextInt(Scaffolds.size))
        .map(t => if (t == "*") vocab(rng.nextInt(vocab.size)) else t)
        .mkString(" ")
    }.mkString(" ")

  /** Replace one scaffold slot word with a word the text lacks. */
  private def nearCopy(rng: Random, vocab: IndexedSeq[String],
                       text: String): String = {
    val toks = text.split(' ')
    val scaffold = Scaffolds.flatten.toSet
    val slots = toks.indices.filterNot(i => scaffold(toks(i)))
    val at = slots(rng.nextInt(slots.size))
    val present = toks.toSet
    var w = vocab(rng.nextInt(vocab.size))
    while (present(w)) w = vocab(rng.nextInt(vocab.size))
    toks.updated(at, w).mkString(" ")
  }

  /** A 32x32 grey image of 8x8 random blocks: block-aligned with the
    * 8x8 aHash grid, so distinct images sit about 32 bits apart. */
  private def pixels(rng: Random): Array[Int] = Array.fill(64)(rng.nextInt(256))

  private[perfbench] def png(px: Array[Int]): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(32, 32,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val r = img.getRaster
    for (y <- 0 until 32; x <- 0 until 32) r.setSample(x, y, 0, px((y / 4) * 8 + x / 4))
    val out = new ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** The same pixels with a tEXt chunk after IHDR: new bytes, same image. */
  private[perfbench] def reencode(pngBytes: Array[Byte], tag: String): Array[Byte] = {
    val ihdrEnd = 8 + 4 + 4 + 13 + 4
    val data = s"Comment\u0000$tag".getBytes(ISO_8859_1)
    val typ = "tEXt".getBytes(ISO_8859_1)
    val crc = new CRC32(); crc.update(typ); crc.update(data)
    val chunk = java.nio.ByteBuffer.allocate(12 + data.length)
      .putInt(data.length).put(typ).put(data).putInt(crc.getValue.toInt).array()
    pngBytes.take(ihdrEnd) ++ chunk ++ pngBytes.drop(ihdrEnd)
  }

  private def page(text: String, refs: Seq[String]): Array[Byte] =
    (s"<html><body><p>$text</p>" + refs.map(r => s"""<img src="$r">""").mkString +
      "</body></html>").getBytes(UTF_8)

  /** Plan the fixture in memory; [[write]] puts it on disk. */
  def generate(seed: Long, p: Params): Fixture = {
    val rng = new Random(seed)
    val vocab = vocabulary(rng, 4000)
    val historyDocs = (0 until p.historyDocs).map(i => (1000000L + i, prose(rng, vocab)))
    val historyPx = (0 until p.historyImages).map(_ => pixels(rng))
    val historyImages = historyPx.zipWithIndex.map { case (px, i) => (2000000L + i, png(px)) }
    // what the indexes hold when a batch starts: history plus every
    // earlier batch's survivors
    val textPool = mutable.ArrayBuffer(historyDocs.map(_._2): _*)
    val imagePool = mutable.ArrayBuffer(historyPx: _*)
    val pendingText = mutable.ArrayBuffer.empty[String]
    val pendingPx = mutable.ArrayBuffer.empty[Array[Int]]
    val docSurv = mutable.Set.empty[String]
    val mediaSurv = mutable.Set.empty[String]
    val planted = mutable.Map.empty[String, Int].withDefaultValue(0)
    var usedText = Set.empty[Int]
    var usedImg = Set.empty[Int]
    def pick(n: Int, used: Set[Int]): Int = {
      require(used.size < n, "history too small for the re-crawls of one batch")
      var i = rng.nextInt(n)
      while (used(i)) i = rng.nextInt(n)
      i
    }
    // a fixed class mix, placed by the seed, so every seed plans the
    // same amount of work per pass
    val pages = p.archives * p.pagesPerArchive
    val counts = Shares.map { case (k, share) => k -> math.round(pages * share).toInt }
    val kinds = rng.shuffle(
      (Shares.keys.filter(_ != "fresh").toSeq.flatMap(k => Seq.fill(counts(k))(k)) ++
        Seq.fill(pages - counts.filter(_._1 != "fresh").values.sum)("fresh")).sorted)
      .iterator
    var articles = 0
    val archives = (0 until p.archives).map { a =>
      if (a % p.filesPerTrigger == 0) {
        textPool ++= pendingText; imagePool ++= pendingPx
        pendingText.clear(); pendingPx.clear()
        usedText = Set.empty; usedImg = Set.empty
      }
      def reenc(host: String, k: Int): (String, Array[Byte]) = {
        val i = pick(imagePool.size, usedImg)
        usedImg += i
        (s"$host/m/r$k.png", reencode(png(imagePool(i)), s"$host/$k"))
      }
      val recs = (0 until p.pagesPerArchive).flatMap { q =>
        val host = s"https://a$a-p$q.example"
        val url = s"$host/page"
        val kind = kinds.next()
        planted(kind) += 1
        kind match {
          case "fresh" =>
            val t = prose(rng, vocab)
            docSurv += url; pendingText += t
            Seq(url -> page(t, Nil))
          case "article" =>
            val t = prose(rng, vocab)
            val px = pixels(rng)
            val orig = (s"$host/m/o.png", png(px))
            articles += 1
            val extra = if (articles % 2 == 0) Seq(reenc(host, 0)) else Nil
            docSurv += url; pendingText += t
            mediaSurv += orig._1; pendingPx += px
            val media = orig +: extra
            (url -> page(t, media.map(m => m._1.stripPrefix(host)))) +: media
          case "gallery" =>
            val media = (0 until 2).map(reenc(host, _))
            (url -> page(prose(rng, vocab), media.map(m => m._1.stripPrefix(host)))) +: media
          case "exact" =>
            val i = pick(textPool.size, usedText); usedText += i
            Seq(url -> page(textPool(i), Nil))
          case _ =>
            val i = pick(textPool.size, usedText); usedText += i
            Seq(url -> page(nearCopy(rng, vocab, textPool(i)), Nil))
        }
      }
      Archive(f"crawl-$a%04d.warc.gz", recs)
    }
    Fixture(archives, historyDocs, historyImages, docSurv.toSet,
      mediaSurv.toSet, planted.toMap)
  }

  private def warcRecord(uri: String, payload: Array[Byte]): Array[Byte] =
    (s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: $uri\r\n" +
      "WARC-Date: 2026-01-02T03:04:05Z\r\n" +
      s"Content-Length: ${payload.length}\r\n\r\n").getBytes(ISO_8859_1) ++
      payload ++ "\r\n\r\n".getBytes(ISO_8859_1)

  private def gzipMember(bytes: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(out)
    gz.write(bytes); gz.close()
    out.toByteArray
  }

  /** Write the archives into `dir` with increasing modification times;
    * returns the total archive bytes. */
  def write(f: Fixture, dir: Path): Long = {
    Files.createDirectories(dir)
    val base = 1767225600000L
    f.archives.zipWithIndex.map { case (a, i) =>
      val bytes = a.records.map { case (u, b) => gzipMember(warcRecord(u, b)) }
        .reduce(_ ++ _)
      val path = dir.resolve(a.name)
      Files.write(path, bytes)
      path.toFile.setLastModified(base + i * 60000L)
      bytes.length.toLong
    }.sum
  }
}
