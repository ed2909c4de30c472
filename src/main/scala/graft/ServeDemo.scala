package graft

import java.nio.file.{Files, Paths}

import graft.etl.StarSchemaBuilder
import graft.serve.{StarServe, StarServeHttp}

/** Stand up the serving tier interactively: build a small star from a
  * synthetic landing, serve it over [[graft.serve.StarServeHttp]], and
  * stay alive until killed — `runMain graft.ServeDemo [port]` then
  * open the printed URL in a browser (the "/" dashboard page).
  * The batch pipeline/ops walkthrough is [[PipelineDemo]]. */
object ServeDemo {
  def main(args: Array[String]): Unit = {
    val port = if (args.nonEmpty) args(0).toInt else 0
    val spark = SparkEntry.session(4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val landing = Files.createTempDirectory("graft_servedemo_landing").toString
    val dates = Iterator.iterate(java.time.LocalDate.parse("2024-01-01"))(_.plusDays(1))
      .takeWhile(!_.isAfter(java.time.LocalDate.parse("2024-02-29"))).toSeq
    val rows = for {
      t <- Seq("^GSPC", "^DJI")
      (d, i) <- dates.zipWithIndex
    } yield {
      val base = if (t == "^GSPC") 4700.0 else 37000.0
      f"$d,$t,${base + i - 5}%.2f,${base + i + 5}%.2f,${base + i - 10}%.2f,${base + i}%.2f,${base + i}%.2f,${1000000 + i}"
    }
    Files.write(Paths.get(landing, "stocks_2024-02-29.csv"),
      ("Date,Ticker,Open,High,Low,Close,AdjClose,Volume" +: rows).mkString("\n").getBytes)
    Files.write(Paths.get(landing, "world_bank_2024-02-29.csv"),
      "date,GDPGrowthRate,InflationRate\n2024-01-01,2.5,3.1".getBytes)
    val starDir = Files.createTempDirectory("graft_servedemo_star").toString
    StarSchemaBuilder.build(spark, landing, starDir)

    val serve = new StarServe(spark, starDir)
    val http = StarServeHttp.serve(serve, port)
    println(s"[servedemo] dashboard at ${http.url}/")
    Thread.currentThread.join() // serve until killed
  }
}
