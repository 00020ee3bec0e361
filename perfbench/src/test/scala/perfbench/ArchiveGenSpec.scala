package perfbench

import org.scalatest.funsuite.AnyFunSuite

class ArchiveGenSpec extends AnyFunSuite {

  private val p = ArchiveGen.Params(archives = 4, pagesPerArchive = 10,
    filesPerTrigger = 2, historyDocs = 24, historyImages = 24)

  private def pages(f: ArchiveGen.Fixture) =
    f.archives.flatMap(_.records).filter(_._1.endsWith("/page"))

  test("the planted survivors are a function of the seed") {
    for (seed <- Seq(1L, 2L)) {
      val a = ArchiveGen.generate(seed, p)
      val b = ArchiveGen.generate(seed, p)
      assert(a.docSurvivors == b.docSurvivors && a.mediaSurvivors == b.mediaSurvivors)
      assert(a.archives.flatMap(_.records).map(_._2.toSeq) ==
        b.archives.flatMap(_.records).map(_._2.toSeq))
    }
    assert(ArchiveGen.generate(1L, p).docSurvivors != ArchiveGen.generate(2L, p).docSurvivors)
  }

  test("survivors are the fresh and article pages and the article originals") {
    for (seed <- Seq(1L, 2L)) {
      val f = ArchiveGen.generate(seed, p)
      val planted = f.planted.withDefaultValue(0)
      // the class mix is fixed; the seed only places and fills it
      assert(planted == Map("fresh" -> 12, "article" -> 10, "gallery" -> 4,
        "exact" -> 7, "near" -> 7))
      assert(f.docSurvivors.size == planted("fresh") + planted("article"))
      assert(f.mediaSurvivors.size == planted("article"))
      assert(f.mediaSurvivors.forall(_.endsWith("/m/o.png")))
      assert(f.docSurvivors.subsetOf(pages(f).map(_._1).toSet))
      // every planted drop class occurs, so each gate has work
      Seq("exact", "near", "gallery").foreach(k => assert(planted(k) > 0, k))
    }
  }

  test("no text repeats within a micro-batch, so no survivor depends on record ids") {
    for (seed <- Seq(1L, 2L)) {
      val f = ArchiveGen.generate(seed, p)
      f.archives.grouped(p.filesPerTrigger).foreach { batch =>
        val texts = batch.flatMap(_.records).filter(_._1.endsWith("/page")).map(_._2.toSeq)
        assert(texts.distinct.size == texts.size)
      }
    }
  }

  test("a re-encode keeps the pixels and changes the bytes") {
    val png = ArchiveGen.png(Array.tabulate(64)(i => (i * 37) % 256))
    val again = ArchiveGen.reencode(png, "x")
    assert(!(png sameElements again))
    def px(b: Array[Byte]) = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
      img.getData.getPixels(0, 0, 32, 32, null: Array[Int]).toSeq
    }
    assert(px(png) == px(again))
  }
}
