package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import scala.util.{Failure, Success}

/** Plan and profile declared queries in Bench's own session (shared
  * policy at `SPARK_GRAFT_CPUS`, against `SPARK_GRAFT_SF_DIR`), so the
  * plans shown are the plans Bench times:
  *  - `plan <q...>`: the formatted plan, unexecuted (AQE initial plan);
  *  - `final <q...>`: run once, then the AQE-final executed plan;
  *  - `dump <outDir> <suffix> [q1,q2,...]`: formatted plans to
  *    `<outDir>/<q>_<suffix>.txt`, every declared query without a list
  *    — the plan evidence committed under `plans/`;
  *  - `jobs <q...>`: one warm run, then one counting run: a line per
  *    job (stages, SQL execution id, callsite) and the query's stage
  *    and byte totals;
  *  - `phases <q...>`: build/analyze/optimize/plan/exec, min of 3.
  * Single-query timing is Bench itself: `SPARK_GRAFT_BENCH_ONLY=q`. */
object Profile {
  def main(args: Array[String]): Unit = {
    val (cmd, rest) = (args.headOption.getOrElse(""), args.toSeq.drop(1))
    val names = cmd match {
      case "dump" if rest.length >= 2 =>
        rest.lift(2).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(SparkEntry.queries.keys.toSeq)
      case "plan" | "final" | "jobs" | "phases" if rest.nonEmpty => rest
      case _ =>
        System.err.println("usage: Profile plan|final|jobs|phases <q...> | " +
          "dump <outDir> <suffix> [q1,q2,...]")
        sys.exit(2)
    }
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    val sfDir = Bench.envSfDir
    val spark = Bench.session()
    def build(name: String) = SparkEntry.queries(name)(spark, sfDir)
    try cmd match {
      case "plan" => names.foreach(n => build(n).explain("formatted"))
      case "final" => names.foreach { n =>
        val df = build(n)
        Bench.benchAction(df)
        println(s"===== $n =====")
        println(df.queryExecution.explainString(FormattedMode))
      }
      case "dump" =>
        val dir = new java.io.File(rest(0))
        dir.mkdirs()
        names.foreach { n =>
          val plan =
            try build(n).queryExecution.explainString(FormattedMode)
            catch { case scala.util.control.NonFatal(e) => s"PLAN FAILED: ${e.getMessage}" }
          val f = new java.io.File(dir, s"${n}_${rest(1)}.txt")
          val w = new java.io.PrintWriter(f, "UTF-8")
          try w.write(plan) finally w.close()
          println(s"[profile] $n -> ${f.getPath}")
        }
      case "jobs" => Bench.warmJvm(spark, sfDir); jobs(spark, names, build)
      case "phases" => Bench.warmJvm(spark, sfDir); phases(names, build)
    } finally spark.stop()
  }

  /** Which jobs a query launches and how many stages each schedules —
    * the floor-multiplier map — counted through Bench's own counting
    * run. The warm run builds the query's session memos first (Bench's
    * prebuilt-artifact convention), so the counted run is the
    * steady-state shape Bench times. Each job carries its SQL execution
    * id: the jobs of one Dataset action run while the query is built (a
    * memo build, a collect) share one; the counted `toRdd` action runs
    * outside any SQL execution, so its jobs, like parquet schema reads,
    * print `-`. */
  private def jobs(spark: SparkSession, names: Seq[String],
      build: String => org.apache.spark.sql.DataFrame): Unit =
    names.foreach { n =>
      Bench.benchAction(build(n))
      val t0 = System.nanoTime()
      val counted = Bench.countRun(spark, n)(Bench.benchAction(build(n)))
      val wall = (System.nanoTime() - t0) / 1e9
      counted match {
        case Failure(e) => println(s"== $n: counting run FAILED: $e ==")
        case Success((_, c)) =>
          println(f"== $n: ${c.jobs.size} jobs, ${c.stageIds.size} stages, " +
            f"shuffle ${Bench.mb(c.shuffleWrite)} MB, input ${Bench.mb(c.input)} MB, " +
            f"wall $wall%.3f s ==")
          c.jobs.foreach { j =>
            // a job's name is its result stage's, the materializing callsite
            val exec = j.sqlExecutionId.fold("-")(_.toString)
            println(f"  job ${j.id}%4d  stages=${j.stageIds.size}%3d  exec=$exec%-4s " +
              j.name.takeWhile(_ != '\n').take(130))
          }
      }
    }

  /** Per-phase wall, min of 3 fresh plans each: build the frame,
    * analyze, optimize, physical-plan, then execute the declared plan
    * ([[Bench.benchAction]], which reuses the plan just made). */
  private def phases(names: Seq[String],
      build: String => org.apache.spark.sql.DataFrame): Unit = {
    println(f"${"query"}%-24s ${"build"}%7s ${"analyze"}%7s ${"optim"}%7s ${"plan"}%7s ${"exec"}%7s ${"total"}%7s")
    names.foreach { n =>
      val t = Array.fill(6)(Double.MaxValue)
      (1 to 3).foreach { _ =>
        val t0 = System.nanoTime()
        val df = build(n)
        val t1 = System.nanoTime()
        val qe = df.queryExecution
        qe.assertAnalyzed()
        val t2 = System.nanoTime()
        qe.optimizedPlan
        val t3 = System.nanoTime()
        qe.executedPlan
        val t4 = System.nanoTime()
        Bench.benchAction(df)
        val t5 = System.nanoTime()
        val d = Seq(t1 - t0, t2 - t1, t3 - t2, t4 - t3, t5 - t4, t5 - t0).map(_ / 1e9)
        (0 until 6).foreach(i => t(i) = math.min(t(i), d(i)))
      }
      println(f"$n%-24s ${t(0)}%7.3f ${t(1)}%7.3f ${t(2)}%7.3f ${t(3)}%7.3f ${t(4)}%7.3f ${t(5)}%7.3f")
    }
  }
}
