package perfbench

import graft.SparkEntry
import graft.multimodal.Multimodal
import graft.pipelines.{IngestSinks, StreamingIngestPipeline}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import scala.jdk.CollectionConverters._
import scala.util.{Random, Try}
import Main.{Pass, isolate, timeOp}

/** Expected (rows, digest) per query, recorded once at sf0.1 by
  * `record_goldens.py` and cross-checked there against the catalog's
  * DuckDB oracle. */
final case class Golden(rows: Long, digest: String)

object Goldens {
  def load(): Map[String, Golden] = {
    val in = getClass.getResourceAsStream("/goldens.json")
    require(in != null, "goldens.json missing from the classpath")
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(in)
    node.properties().asScala.map { e =>
      e.getKey -> Golden(e.getValue.get("rows").asLong, e.getValue.get("digest").asText)
    }.toMap
  }
}

/** `relational`: each pass runs every query once (build
  * plus `count()`) in an order the seed sets. The warm-up runs each query
  * at the same scale and checks its row count and digest; every timed
  * operation checks its row count. */
final class Queries(spark: SparkSession, names: Seq[String], data: String,
                    seed: Long, goldens: Map[String, Golden]) extends Main.Workload {

  def fixture(): Unit = ()

  /** Checks each query's rows and digest, then runs `WarmPasses`
    * untimed passes so that its plans are compiled and the JIT has
    * settled before timing: without them, the timed passes of a run kept
    * getting faster for its first six passes (2.7 s down to 2.1 s on 4
    * cores). Nothing here is timed, so no isolation runs between queries. */
  def warmup(): (Int, Int) = {
    val failed = names.count { n =>
      val got = Try {
        val d = Digest(SparkEntry.queries(n)(spark, data))
        Golden(d.rows, d.hex)
      }
      val ok = got.toOption == goldens.get(n)
      if (!ok) System.err.println(s"[perfbench] check $n: got $got, expected ${goldens.get(n)}")
      !ok
    }
    for (_ <- 0 until Queries.WarmPasses; n <- names) SparkEntry.queries(n)(spark, data).count()
    (names.size, failed)
  }

  def pass(index: Int): Pass = {
    val spans = collection.mutable.ArrayBuffer.empty[Span]
    val order = new Random(seed * 1000003L + index).shuffle(names)
    val ops = order.map { n =>
      isolate(spark)
      timeOp(spark, s"p$index/$n", spans)(SparkEntry.queries(n)(spark, data)) { df =>
        goldens.get(n).exists(_.rows == df.count())
      }
    }
    Pass(ops, Nil, spans.toSeq, Map.empty)
  }
}

object Queries {
  val WarmPasses = 4
}

/** `archive_backfill`: each pass drains the seeded archive directory
  * through the composition `IngestSinks.backfillArchives` wires, rebuilt
  * here so the sink call can be timed: a `binaryFile` stream capped by
  * `maxFilesPerTrigger`, `StreamingIngestPipeline.runArchiveIngest` with
  * HTML extraction and the media gate on, and `IngestSinks.archiveSink`
  * compacting every `CompactEvery` batches, under Trigger.AvailableNow
  * into fresh roots and a fresh checkpoint seeded with copies of the
  * generated history indexes.
  *
  * URL dedup stays off: with it on, planning the step's doc chain took
  * about 20 s more driver time per micro-batch on 4 cores (measured:
  * cold step 49 s against 16.5 s off), which alone exceeds this
  * workload's share of the benchmark's run budget. */
final class Backfill(spark: SparkSession, work: Path, seed: Long) extends Main.Workload {
  import Backfill._

  private var fix: ArchiveGen.Fixture = _
  private var archiveBytes = 0L
  private val archives = work.resolve("archives")
  private val pristine = work.resolve("pristine")

  /** The seeded archives and the history indexes every pass starts from. */
  def fixture(): Unit = {
    import spark.implicits._
    fix = ArchiveGen.generate(seed, Params)
    archiveBytes = ArchiveGen.write(fix, archives)
    IngestSinks.initTextIndex(spark, pristine.resolve("tidx").toString,
      fix.historyDocs.toDF("doc_id", "text"), "doc_id", "text")
    IngestSinks.initMediaIndex(spark, pristine.resolve("midx").toString,
      fix.historyImages.map { case (id, b) => Multimodal.Media(id, "image", b) }.toDS())
  }

  /** One backfill into the fresh root `root`; returns the op, whose
    * check is that the corpora hold exactly the planted survivors, and
    * the micro-batch latencies. */
  private def backfill(root: Path, id: String,
                       spans: collection.mutable.Buffer[Span]): (Main.Op, Seq[Double]) = {
    copyTree(pristine, root)
    val tidx = root.resolve("tidx").toString
    val midx = root.resolve("midx").toString
    var q: StreamingQuery = null
    val op = timeOp(spark, id, spans) {
      val sink = IngestSinks.archiveSink(spark, s"$root/docs", s"$root/media", tidx, midx,
        CompactEvery)
      q = StreamingIngestPipeline.runArchiveIngest(
          spark.readStream.format("binaryFile").schema(IngestSinks.BinaryFileSchema)
            .option("maxFilesPerTrigger", Params.filesPerTrigger.toString)
            .load(archives.toString),
          IngestSinks.textIndex(spark, tidx), IngestSinks.mediaIndex(spark, midx),
          extractHtml = true, urlDedup = false, mediaGate = true) { b =>
          val s = Clock.now()
          Main.log(s"$id batch ${b.batchId}: step done")
          try sink(b)
          finally spans.synchronized {
            Main.log(f"$id batch ${b.batchId}: sink ${Clock.now() - s}%.2f s")
            spans += Span(s"$id/sink${b.batchId}", s"$id/batch${b.batchId}", id, "sink",
              s"sink ${b.batchId}", s, Clock.now())
          }
        }
        .option("checkpointLocation", s"$root/checkpoint")
        .trigger(Trigger.AvailableNow())
        .start()
      q
    } { _ => q.awaitTermination(); true }
    val lat = q.recentProgress.toSeq.map(_.batchDuration / 1e3)
    def urls(p: String) = Try(spark.read.parquet(p).select("url").collect()
      .map(_.getString(0)).toSet).getOrElse(Set.empty[String])
    val docs = urls(s"$root/docs")
    val media = urls(s"$root/media")
    val ok = op.ok && docs == fix.docSurvivors && media == fix.mediaSurvivors
    if (!ok) System.err.println(s"[perfbench] $id: corpus mismatch: " +
      s"${(docs diff fix.docSurvivors).size} unexpected and ${(fix.docSurvivors diff docs).size} " +
      s"missing docs, ${(media diff fix.mediaSurvivors).size} unexpected and " +
      s"${(fix.mediaSurvivors diff media).size} missing media")
    (op.copy(ok = ok), lat)
  }

  /** An untimed pass over the same fixture: it compiles the plan shapes
    * the timed passes run, and its output is checked like theirs. A
    * second one would let the JIT settle further (the second backfill of
    * a JVM took 12.4 s and the fourth 9.8 s on 4 cores), but costs more
    * set-up than the benchmark's run budget holds. */
  def warmup(): (Int, Int) = {
    val (op, _) = backfill(work.resolve("warmup"), "warmup",
      collection.mutable.ArrayBuffer.empty[Span])
    deleteTree(work.resolve("warmup"))
    (1, if (op.ok) 0 else 1)
  }

  def pass(index: Int): Pass = {
    isolate(spark)
    val spans = collection.mutable.ArrayBuffer.empty[Span]
    val root = work.resolve(s"pass$index")
    val (op, lat) = backfill(root, s"p$index/backfill", spans)
    val index_ = du(root.resolve("tidx")) + du(root.resolve("midx"))
    val stored = du(root.resolve("docs")) + du(root.resolve("media")) + index_
    val compactions = Seq("tidx", "midx").map(r => Try(
      Files.readString(root.resolve(r).resolve("CURRENT")).trim.stripPrefix("v").toDouble)
      .getOrElse(0.0)).sum
    deleteTree(root)
    Pass(Seq(op), lat, spans.toSeq, Map("io.archive_bytes" -> archiveBytes.toDouble,
      "io.index_bytes" -> index_.toDouble,
      "io.stored_per_input" -> stored.toDouble / archiveBytes,
      "io.compactions" -> compactions))
  }
}

object Backfill {
  /** One micro-batch of 24 pages per pass: a batch is driver-bound at
    * about 10 s on 4 cores (144 jobs, a third of it Catalyst planning),
    * so a pass of several batches would not fit the benchmark's run
    * budget. `CompactEvery = 1` makes the batch
    * compact and swap both indexes. */
  val Params = ArchiveGen.Params(archives = 2, pagesPerArchive = 12, filesPerTrigger = 2,
    historyDocs = 40, historyImages = 24)
  val CompactEvery = 1

  private def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else { val s = Files.walk(p); try s.iterator.asScala.toVector finally s.close() }

  def du(p: Path): Long = files(p).filter(Files.isRegularFile(_)).map(Files.size).sum

  def copyTree(from: Path, to: Path): Unit = files(from).foreach { src =>
    val dst = to.resolve(from.relativize(src).toString)
    if (Files.isDirectory(src)) Files.createDirectories(dst) else Files.copy(src, dst)
  }

  def deleteTree(p: Path): Unit = files(p).reverse.foreach(Files.delete)
}
