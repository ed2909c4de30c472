package graft.queries

import org.apache.spark.sql.catalyst.expressions.{
  Attribute, Expression, HigherOrderFunction, LambdaFunction, Literal,
  NamedLambdaVariable}

/** Regression gate over every declared plan (r10 one-off sweep made a
  * gate in r11 — verdict #6/#7): exits nonzero on NEW hits, so plan
  * regrowth of a known hazard class fails loudly instead of relying
  * on a human diffing last round's output.
  *
  * Sweep 1 — pushed `isnotnull(<computed expression>)` filters: the
  * r10 class where a computed nullable join key is re-evaluated per
  * row inside an inferred null filter (a 16-bit bucket join went
  * 2.3 → 12.6 s when the kernel chain was inlined twice into one
  * generated predicate). A simple attribute (`isnotnull(col#12L)`)
  * is fine; anything with a nested '(' is computed. Known-cheap
  * computed keys are allowlisted BY QUERY AND PATTERN below, each
  * with its rationale — a new pattern in an allowlisted query still
  * fails.
  *
  * Sweep 2 — expensive outer subtrees INSIDE HOF lambdas: the r10
  * class that cost 26.7 s (shingleArray's transform re-ran
  * `split(text)` 3× per shingle — lambda subtrees get no
  * subexpression elimination, SPARK-35886). Flags any non-attribute,
  * row-dependent subtree inside a lambda body that references no
  * lambda variable: such a subtree re-evaluates once PER ELEMENT.
  * Bare outer attributes are fine (a column read per element is the
  * lambda's job); literal-only subtrees constant-fold.
  *
  * Sweep 3 — global (partition-less) WindowExec: moves ALL input
  * rows to one task, the single-task-sort scale killer. Allowlisted
  * only where the window input is provably bounded and
  * corpus-independent (q_ivf_recall's |query-batch|-row band sum).
  *
  * Sweep 4 — shuffled cartesian products (CartesianProductExec):
  * |L|×|R| with both sides materialized. Every deliberate cross join
  * in the library broadcasts a model-sized side (planned as
  * BroadcastNestedLoopJoin), so zero of these are acceptable — no
  * allowlist.
  */
object PlanAudit {

  /** (query, rationale, acceptable hit substrings). A hit in sweep 1
    * must match one of its query's substrings or the audit fails. */
  private val isnotnullAllow: Seq[(String, String, Seq[String])] = Seq(
    ("q_asof_forward",
      "single cast of the probe ts to timestamp — one conversion per row",
      Seq("cast(ts")),
    ("q_bigram_lm",
      "substring_index on the 2-token bigram key — bounded scan of a short string",
      Seq("substring_index(bg")),
    ("q_dedup_simhash_ham",
      "16-bit band extraction from the 64-char signature (conv+substring) — fixed-width, no corpus-sized recompute",
      Seq("conv(substring(CASE WHEN (length(simhash")),
    ("q_interval_join",
      "hour-bin epoch arithmetic on the event ts — two integer ops per row",
      Seq("unix_micros(cast(ts")),
    ("q_join_hashkey",
      "md5 surrogate key — the query's declared semantics IS joining on md5(key)",
      Seq("md5(cast(cast(c_custkey")),
    ("q_join_left_year",
      "year() of the order date — one date-field extract per row",
      Seq("year(cast(o_o")),
    ("q_star_schema",
      "date-field join keys of the star build: cast(o_orderdate AS " +
        "DATE) on the fact (one conversion per row — the " +
        "q_join_left_year class) and year(make_date(yr)) on the econ " +
        "branch, whose scan is the distinct-years aggregate (a " +
        "handful of rows) feeding a broadcast",
      Seq("cast(o_orderdate", "year(ma", "make_da")),
    ("q_dashboard_slice",
      "year(make_date(yr)) on the econ branch — the same cheap " +
        "distinct-years-aggregate key as q_star_schema's entry",
      Seq("year(ma", "make_da")),
    ("q_salt_skew_join",
      "pmod(xxhash64) salt — the deliberate forced-shuffle demo's salt key",
      Seq("pmod(xxhash64(l_orderkey")),
    ("q_scd2_asof",
      "null-guard CASE on the merge key (raise on null, else the key) — one isnull branch per row, and the pushed filter is what lets EliminateOuterJoin fire",
      // the scan-line PushedFilters rendering elides long expressions
      // ("CASE WHEN isnul..."), so match on the stable prefix
      Seq("CASE WHEN isnu")),
    ("q_jsonl_quarantine",
      "the quarantine split's verdict IS a predicate over the parsed " +
        "struct (from_json corrupt-column / null-struct checks), so " +
        "the filter re-evaluates the parse the projection also " +
        "performs — a bounded 2x on the scan stage's own declared " +
        "work (one line parse), NOT a corpus-sized recompute. The " +
        "alternative — materializing the parsed corpus before " +
        "filtering — trades that constant for an O(corpus) write, " +
        "strictly worse at scale; Filter and Project are separate " +
        "operators, so cross-operator subexpression elimination " +
        "cannot be assumed and the 2x is priced in (0.22 s at sf0.1, " +
        "4-stage one-pass plan). Any NEW computed-filter pattern in " +
        "this query still fails the audit.",
      Seq("from_json(StructField(doc_id")))

  /** Sweep-2 allowlist: (query, rationale, acceptable fragment). */
  private val lambdaAllow: Seq[(String, String, Seq[String])] = Seq()

  /** Sweep-3 allowlist — queries allowed a GLOBAL (partition-less)
    * WindowExec, which moves ALL its input to one task: only
    * acceptable when the input is provably bounded and
    * corpus-independent. */
  private val globalWindowAllow: Seq[(String, String)] = Seq(
    ("q_ivf_recall",
      "recall-band sum over the per-query AGGREGATE output — the " +
        "window input is |query batch| rows (10 here), bounded and " +
        "corpus-independent by construction"))

  def main(args: Array[String]): Unit = {
    val spark = graft.TestSpark.spark
    val d = graft.TestSpark.sfTiny
    val pat = "isnotnull\\(([^()#]*\\([^)]*)\\)".r
    var newHits = 0

    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val qe = fn(spark, d).queryExecution
        // -- sweep 1: pushed isnotnull(<computed>) in the physical plan
        val p = qe.executedPlan.toString
        val hits = p.linesIterator.filter(l => l.contains("Filter"))
          .flatMap(l => pat.findAllMatchIn(l).map(_.group(1).take(70)))
          .toSeq.distinct
        val allowed = isnotnullAllow.filter(_._1 == name).flatMap(_._3)
        hits.foreach { h =>
          if (allowed.exists(h.contains)) ()
          else { newHits += 1; println(s"[audit] NEW isnotnull hit $name: $h") }
        }
        // -- sweep 3: global (partition-less) WindowExec — all rows
        // into ONE task; only bounded corpus-independent inputs may
        // be allowlisted (caught manually in r11 as a planner WARN on
        // q_ivf_recall's 10-row band sum; now a tracked gate)
        val globalWins = globalWindows(qe.executedPlan)
        if (globalWins > 0 && !globalWindowAllow.exists(_._1 == name)) {
          newHits += 1
          println(s"[audit] NEW global-window hit $name: $globalWins " +
            "partition-less WindowExec node(s)")
        }
        // -- sweep 4: shuffled cartesian product — |L|×|R| with both
        // sides materialized; the library's crossJoin sites must all
        // stay broadcast (model-sized side), so ZERO of these are
        // acceptable in any declared plan, no allowlist
        val cartesians = walkPhysical(qe.executedPlan).count(
          _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec])
        if (cartesians > 0) {
          newHits += 1
          println(s"[audit] NEW cartesian-product hit $name: " +
            s"$cartesians CartesianProductExec node(s)")
        }
        // -- sweep 2: outer non-leaf subtrees inside HOF lambdas
        val hofs = qe.optimizedPlan.collect { case node =>
          node.expressions.flatMap(_.collect { case h: HigherOrderFunction => h })
        }.flatten
        val lAllowed = lambdaAllow.filter(_._1 == name).flatMap(_._3)
        hofs.foreach { hof =>
          hof.functions.foreach {
            case lf: LambdaFunction =>
              outerSubtrees(lf.function).foreach { e =>
                val s = e.toString.take(90)
                if (lAllowed.exists(s.contains)) ()
                else {
                  newHits += 1
                  println(s"[audit] NEW lambda-subtree hit $name: $s")
                }
              }
            case _ => ()
          }
        }
      } catch { case e: Throwable =>
        newHits += 1
        println(s"[audit] ERROR $name: ${String.valueOf(e.getMessage).take(80)}")
      }
    }
    println(s"[audit] done, new hits: $newHits " +
      s"(${isnotnullAllow.size} allowlisted isnotnull patterns, " +
      s"${globalWindowAllow.size} allowlisted global windows)")
    spark.stop()
    if (newHits > 0)
      sys.error(s"PlanAudit: $newHits unallowlisted plan hazard(s) — " +
        "fix the plan or add an allowlist entry WITH rationale")
  }

  /** Partition-less WindowExec count — package-visible so
    * PlanAuditSpec proves the detector fires on the hazard shape. */
  private[queries] def globalWindows(
      plan: org.apache.spark.sql.execution.SparkPlan): Int =
    walkPhysical(plan).count {
      case w: org.apache.spark.sql.execution.window.WindowExec =>
        w.partitionSpec.isEmpty
      case _ => false
    }

  /** Physical-plan walk through the AQE wrappers (the AQE-final plan). */
  private[graft] def walkPhysical(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    p match {
      case a: AdaptiveSparkPlanExec => a +: walkPhysical(a.executedPlan)
      case q: QueryStageExec => q +: walkPhysical(q.plan)
      case other => other +: other.children.flatMap(walkPhysical)
    }
  }

  /** Maximal subtrees of a lambda body that (a) depend on the row
    * (non-empty attribute references), (b) reference NO lambda
    * variable, and (c) are not bare attributes — i.e. real outer
    * computations that re-run once per array element. Package-visible
    * so PlanAuditSpec can prove the detector FIRES on the r10 hazard
    * shape (a sweep that silently can't fire gates nothing). */
  private[queries] def outerSubtrees(body: Expression): Seq[Expression] = {
    def hasLambdaVar(e: Expression): Boolean =
      e.exists(_.isInstanceOf[NamedLambdaVariable])
    def rowDependent(e: Expression): Boolean =
      e.exists(_.isInstanceOf[Attribute])
    def walk(e: Expression): Seq[Expression] = e match {
      case _: Attribute | _: Literal | _: NamedLambdaVariable => Seq.empty
      case _ if !hasLambdaVar(e) && rowDependent(e) => Seq(e) // maximal
      case _ => e.children.flatMap(walk)
    }
    walk(body)
  }
}
