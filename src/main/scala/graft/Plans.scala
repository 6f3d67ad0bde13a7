package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: driver-side plan inspection of registered queries, under
  * the same session confs as the bench (so `SPARK_GRAFT_CPUS=32`
  * plans are the plans a `local[32]` bench run executes).
  *
  * Usage: runMain graft.Plans <explain|lint|time> [sfDir] [query...]
  * (sfDir defaults to sf0.001, queries to all registered ones)
  *
  *  - explain: formatted physical plans for plan-quality audits
  *    (pushdown, pruning, join strategy, codegen spans).
  *  - lint: flag scale red flags — windows with no partition spec
  *    (everything lands in one task) and cartesian products.
  *  - time (r14, guide §7.3): DataFrame construction + analysis, then
  *    optimization + physical planning (`executedPlan`). JobProfile
  *    showed q53-family walls dominated by a driver-side gap (10.3 s
  *    of 19.8 s on q53); this is the mode that attributes it. Planning
  *    happens once per query here vs once per ACTION in a real run, so
  *    treat the numbers as a lower bound.
  */
object Plans {

  /** Global windows accepted because their input frame is BOUNDED BY
    * CONTRACT — the same convention as the repo's bounded `.collect()`
    * calls: the window runs over a post-aggregation frame whose row
    * count is fixed by a constant, a value domain, or calendar time,
    * never by the dataset size. Anything NOT listed here that plans a
    * global window is a flag. */
  private val boundedWindowByContract = Map(
    "q206_conversion_hazard" ->
      "per-day frame, bounded by the calendar span",
    "q216_bootstrap_ci" ->
      "B=40 bootstrap replicate means (constant)",
    "q222_ks_drift" ->
      "distinct n_chars values (value-domain-bounded, q199 rationale)",
    "q225_cusum_changepoint" ->
      "per-day frame, bounded by the calendar span",
    "q240_heaps_fit" ->
      "per-day vocabulary frame, bounded by the calendar span")

  def main(args: Array[String]): Unit = {
    val mode: (SparkSession, String, Seq[String]) => Unit =
      args.headOption match {
        case Some("explain") => explain
        case Some("lint") => lint
        case Some("time") => time
        case _ =>
          System.err.println("usage: graft.Plans <explain|lint|time> " +
            "[sfDir] [query...]")
          sys.exit(2)
      }
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 2) args.drop(2).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = Session()
    spark.sparkContext.setLogLevel("ERROR")
    mode(spark, dir, names)
    spark.stop()
  }

  private def explain(spark: SparkSession, dir: String,
      names: Seq[String]): Unit =
    names.foreach { n =>
      println(s"==== $n ====")
      try SparkEntry.queries(n)(spark, dir).explain("formatted")
      catch { case e: Throwable => println(s"ERR ${e.getMessage}") }
    }

  private def lint(spark: SparkSession, dir: String,
      names: Seq[String]): Unit = {
    var flags = 0
    names.foreach { n =>
      try {
        val plan = SparkEntry.queries(n)(spark, dir)
          .queryExecution.executedPlan.toString
        // a Window line prints `[fns], [partSpec], [orderSpec]`;
        // partitioned-but-unordered windows print two groups with NO
        // sort direction in the second — only flag a true global
        // window: one group, or two where the second is an orderSpec
        val globalWindow = plan.linesIterator.exists { l =>
          val t = l.replaceFirst("^[-+:\\s]*", "")
          t.startsWith("Window ") &&
            !t.matches(".*\\], \\[.*\\], \\[.*") &&
            (!t.matches(".*\\], \\[.*") ||
              t.replaceFirst(".*\\], \\[", "").matches(".*(ASC|DESC).*"))
        }
        val windowMsg =
          if (!globalWindow) Nil
          else boundedWindowByContract.get(n) match {
            case Some(bound) =>
              println(s"NOTE $n: global window, bounded by contract " +
                s"($bound)")
              Nil
            case None => Seq("GLOBAL window (no partition)")
          }
        val msgs =
          (if (plan.contains("CartesianProduct")) Seq("cartesian product")
           else Nil) ++ windowMsg
        if (msgs.nonEmpty) {
          flags += 1
          println(s"FLAG $n: ${msgs.mkString("; ")}")
        }
      } catch {
        case e: Throwable => println(s"ERR $n ${e.getMessage.take(120)}")
      }
    }
    println(s"done, $flags flagged")
  }

  private def time(spark: SparkSession, dir: String,
      names: Seq[String]): Unit = {
    // one warmup so JIT/class-loading of the rule stack lands on no query
    try {
      SparkEntry.queries("q1_pricing_summary")(spark, dir)
        .queryExecution.executedPlan
      ()
    } catch { case _: Throwable => () }
    println(f"${"query"}%-42s ${"build+analyze"}%14s ${"optimize+plan"}%14s")
    names.foreach { n =>
      try {
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(n)(spark, dir)
        df.queryExecution.analyzed
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        println(f"$n%-42s ${(t1 - t0) / 1e9}%13.3fs ${(t2 - t1) / 1e9}%13.3fs")
      } catch { case e: Throwable =>
        println(f"$n%-42s ERR ${e.getClass.getSimpleName}")
      }
    }
  }
}
