package perfbench

/** One benchmark run:
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *  --data SF_DIR --expected FILE --work DIR [--spans FILE] [--record 1]`.
  * Prints a detail line and then the result line; a traced run writes
  * its spans and counters to the `--spans` file. With `--record 1`
  * a sweep writes its queries' expected results instead. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    (a.workload, a.record) match {
      case ("sql_warm", false) => Sweep.sqlWarm.run(a)
      case ("sql_warm", true) => Sweep.sqlWarm.record(a)
      case ("corpus_cold", false) => Sweep.corpusCold.run(a)
      case ("corpus_cold", true) => Sweep.corpusCold.record(a)
      case ("dashboard_refresh", false) => Dashboard.run(a)
      case (w, _) => throw new IllegalArgumentException(s"unknown workload $w")
    }
  }
}
