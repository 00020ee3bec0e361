package perfbench

import graft.{GraftSession, SparkEntry}
import java.nio.file.{Files, Paths}

/** Records the goldens for the `relational` workload: writes each query's
  * result as parquet under `<out>/<name>` with the catalog's oracle SQL in
  * `<out>/oracle_sql.json` (the layout `tools/check_oracle.py` reads), and
  * the (rows, digest) pairs to `<out>/goldens.json`.
  *
  * Usage: perfbench.Record <data dir> <out dir>
  */
object Record {
  def main(args: Array[String]): Unit = {
    val Array(data, out) = args
    val spark = GraftSession.build(s"local[${Main.Cores}]", Main.Cores, "perfbench-record")
    spark.sparkContext.setLogLevel("ERROR")
    val names = Main.Relational
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val goldens = json.createObjectNode()
    names.foreach { n =>
      SparkEntry.queries(n)(spark, data).write.mode("overwrite").parquet(s"$out/$n")
      Main.isolate(spark)
      val d = Digest(SparkEntry.queries(n)(spark, data))
      Main.isolate(spark)
      goldens.putObject(n).put("rows", d.rows).put("digest", d.hex)
      println(s"[record] $n rows=${d.rows} digest=${d.hex}")
    }
    val oracle = json.createObjectNode()
    names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).foreach { case (n, q) =>
      oracle.put(n, q) }
    val w = json.writerWithDefaultPrettyPrinter()
    Files.writeString(Paths.get(out, "oracle_sql.json"), w.writeValueAsString(oracle))
    Files.writeString(Paths.get(out, "goldens.json"), w.writeValueAsString(goldens) + "\n")
    spark.stop()
  }
}
