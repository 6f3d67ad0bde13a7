package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod}

import graft.queries.{Query, Relational, Warehouse}
import graft.sources.{MetaOps, Tables, WarehouseBuild}

/** The benchmark's JVM side: one single-threaded closed-loop client
  * driving the program through its public entry points.
  *
  *   Harness <workload> <seed> <seconds> <trace 0|1> <dataDir> <runDir>
  *           <outJson> <cores>
  *
  * Phases, in order: `setups` fresh sessions each with its own
  * warehouse dir (session start + base build timed per repetition; the
  * last session is kept), an untimed warm-up, then operations until
  * `seconds` have passed. Operations that throw count as failed and
  * never become timings. Output checks run untimed; their outcome and
  * everything the caller needs to recompute results independently are
  * written to `outJson`.
  */
object Harness {

  /** warehouse_daily slice count: the base build takes half the
    * slices, each timed operation applies one more. */
  val OrderSlices = 16

  /** Setup repetitions per workload; the reported setup time is their
    * median. A cold warehouse base build costs about twice a warm one,
    * so warehouse_daily sets up twice, as often as the run budget
    * allows. */
  def setupsFor(workload: String): Int =
    if (workload == "adhoc_marts") 3 else 2

  /** The adhoc_marts query panel: every 4th of the Relational and
    * Warehouse mart queries (13 of 52, among them q204, whose operator
    * starts its own jobs), so a warm pass takes 15-20 s and every run
    * times the same queries whatever its seed (a seed-chosen subset
    * would move the median with the subset). */
  def adhocPanel: Seq[Query] =
    (Relational.all ++ Warehouse.all).zipWithIndex
      .collect { case (q, i) if i % 4 == 2 => q }

  final case class Conf(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, run: Path, out: Path, cores: Int)

  def main(args: Array[String]): Unit = {
    val Array(w, seed, secs, tr, data, run, out, cores) = args
    val c = Conf(w, seed.toLong, secs.toDouble, tr == "1", data,
      Paths.get(run), Paths.get(out), cores.toInt)
    val result = new Harness(c).run()
    Files.writeString(c.out, Json(result))
  }
}

final class Harness(c: Harness.Conf) {
  import Harness._

  private val rng = new Random(c.seed)
  private val checks = mutable.ArrayBuffer[Map[String, Any]]()
  private def check(name: String, ok: Boolean, detail: Any = ""): Unit =
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)

  private var spark: SparkSession = _
  private var tracer: Option[Tracer] = None

  private def newSession(k: Int): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[${c.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", c.cores.toString)
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "256")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.io.compression.codec", "zstd")
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.sql.warehouse.dir",
        c.run.resolve(s"warehouse$k").toAbsolutePath.toString)
      .config("spark.local.dir", c.run.resolve("local").toAbsolutePath.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def releaseCaches(): Unit = {
    graft.operators.InternalCache.release()
    graft.operators.SharedFrames.release()
    spark.catalog.clearCache()
  }

  private def now(): Double = System.nanoTime() / 1e9

  private val Setups = setupsFor(c.workload)

  /** Set up `Setups` times, each in a fresh session over a fresh
    * warehouse dir; keeps the last session. Returns the setup times. */
  private def setups(base: Int => Unit): Seq[Double] =
    (1 to Setups).map { k =>
      if (spark != null) {
        releaseCaches()
        spark.stop()
        deleteTree(c.run.resolve(s"warehouse${k - 1}"))
      }
      val t0 = now()
      spark = newSession(k)
      base(k)
      now() - t0
    }

  /** One timed call. Untraced: wall time only. Traced: the tracer's
    * engine metrics plus the catalog-op delta. */
  private def call[T](name: String)(body: => T): (T, Map[String, Any]) =
    tracer match {
      case None =>
        val t0 = now()
        val r = body
        (r, Map("call" -> name, "wall_s" -> (now() - t0)))
      case Some(t) =>
        val m0 = MetaOps.snapshot
        // the public calls are the compositions and query functions
        val (r, m) = t.span("queries")(body)
        val m1 = MetaOps.snapshot
        val meta = Seq("drop_table", "refresh_table", "rename_table",
          "alter_drop_partitions_stmt", "msck_repair").map { k =>
          s"sources.meta.$k" -> (m1.getOrElse(k, 0L) - m0.getOrElse(k, 0L))
        }
        (r, Map[String, Any]("call" -> name) ++ m ++ meta)
    }

  private def startTrace(): Unit = if (c.trace) {
    val t = new Tracer(spark.sparkContext, c.cores)
    spark.sparkContext.addSparkListener(t)
    tracer = Some(t)
  }

  /** Between operations, outside their timings: drop the program's
    * internal caches and collect garbage, as graft.Bench does between
    * queries, so one operation's garbage is not paid by the next. */
  private def settle(): Unit = {
    graft.operators.InternalCache.release()
    System.gc()
  }

  /** Closed loop: run `op` until the time budget is spent or it
    * reports there is no more input, settling after each operation.
    * The second form runs whole rounds: `startRound` begins one,
    * `inRound` says it has operations left, and a round in progress
    * always completes. */
  private def loop(op: () => Option[Map[String, Any]])
      : (Seq[Map[String, Any]], Int, Int, Double) =
    loop(() => (), () => false, op)

  private def loop(startRound: () => Unit, inRound: () => Boolean,
      op: () => Option[Map[String, Any]])
      : (Seq[Map[String, Any]], Int, Int, Double) = {
    val ops = mutable.ArrayBuffer[Map[String, Any]]()
    var attempted = 0; var failed = 0
    val t0 = now()
    var more = true
    while (more && (inRound() || now() - t0 < c.seconds)) {
      if (!inRound()) startRound()
      attempted += 1
      try op() match {
        case Some(rec) => ops += rec
        case None => more = false; attempted -= 1
      } catch { case e: Throwable =>
        failed += 1
        check(s"op ${attempted} threw", ok = false, e.toString.take(300))
      }
      settle()
    }
    (ops.toSeq, attempted, failed, now() - t0)
  }

  /** Report rows as (step/relation/metric → value). */
  private def reportOf(df: DataFrame): Seq[(String, String, String, Long)] =
    df.collect().toSeq.map(r =>
      (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))

  private def reportStats(rep: Seq[(String, String, String, Long)])
      : Map[String, Any] = {
    def sum(metric: String) = rep.filter(_._3 == metric).map(_._4).sum
    Map("stage.rows_in" -> sum("rows_in"), "stage.rows_kept" -> sum("rows_kept"),
      "quality.audit_violations" -> sum("audit_violations"))
  }

  private def checkReport(what: String,
      rep: Seq[(String, String, String, Long)]): Unit = {
    val bad = rep.filter { case (_, _, m, v) =>
      (m == "overlap_violations" || m == "current_violations" ||
        m == "audit_violations") && v != 0L ||
        m == "published" && v != 1L
    }
    if (bad.nonEmpty) check(s"$what report", ok = false, bad.mkString(";"))
  }

  def run(): Map[String, Any] = {
    Files.createDirectories(c.run.resolve("local"))
    val res = try c.workload match {
      case "warehouse_daily" => warehouseDaily()
      case "adhoc_marts" => adhocMarts()
      case other => throw new IllegalArgumentException(s"workload $other")
    } finally if (spark != null) {
      releaseCaches()
      spark.stop()
    }
    res ++ Map("workload" -> c.workload, "seed" -> c.seed,
      "warehouse_dir" -> c.run.resolve(s"warehouse$Setups").toString,
      "local_dir" -> c.run.resolve("local").toString,
      "checks" -> checks.toSeq)
  }

  // ------------------------------------------------------ warehouse_daily

  private def warehouseDaily(): Map[String, Any] = {
    val perm = rng.shuffle((0 until OrderSlices).toList)
    val base = perm.take(OrderSlices / 2)
    val deltas = mutable.Queue(perm.drop(OrderSlices / 2): _*)
    def slice(df: DataFrame, key: String, ids: Seq[Int]) =
      df.filter(pmod(col(key), lit(OrderSlices)).isin(ids: _*))
    var h = ""
    val setupS = setups { k =>
      h = s"pb$k"
      val rep = reportOf(WarehouseBuild.runOn(spark,
        slice(Tables.orders(spark, c.data), "o_orderkey", base),
        Tables.customer(spark, c.data),
        slice(Tables.events(spark, c.data), "event_id", base), h))
      checkReport(s"base build $k", rep)
    }
    val applied = mutable.ArrayBuffer[Int](base: _*)
    var last: Seq[(String, String, String, Long)] = Nil
    def delta(): Option[Map[String, Any]] =
      if (deltas.isEmpty) None else {
        val d = deltas.dequeue()
        val (rep, rec) = call("runIncremental") {
          reportOf(WarehouseBuild.runIncremental(spark, h,
            slice(Tables.orders(spark, c.data), "o_orderkey", Seq(d)),
            slice(Tables.events(spark, c.data), "event_id", Seq(d))))
        }
        applied += d
        checkReport(s"delta $d", rep)
        last = rep
        Some(Map("slice" -> d, "calls" -> Seq(rec ++ reportStats(rep))))
      }
    val w0 = now()
    delta()
    val warmupS = now() - w0
    settle()
    startTrace()
    val (ops, attempted, failed, measuredS) = loop(() => delta())
    def lastOf(rel: String, m: String): Long =
      last.find(r => r._2 == rel && r._3 == m).map(_._4).getOrElse(-1L)
    Map("setup_runs_s" -> setupS, "warmup_s" -> warmupS,
      "measured_s" -> measuredS, "ops" -> ops, "attempted" -> attempted,
      "failed" -> failed, "slices" -> OrderSlices,
      "base_slices" -> base, "applied_slices" -> applied.toSeq,
      "final" -> Map(
        "versions" -> lastOf("dim_user_scd2", "versions"),
        "current_rows" -> lastOf("dim_user_scd2", "current_rows"),
        "monthly_cents" -> lastOf("mart_monthly_revenue", "revenue_cents"),
        "segment_cents" -> lastOf("mart_segment_revenue", "revenue_cents")))
  }

  // ---------------------------------------------------------- adhoc_marts

  private def adhocMarts(): Map[String, Any] = {
    val queries = adhocPanel
    val setupS = setups { _ =>
      Tables.all.foreach(t => Tables.load(spark, c.data, t).schema)
    }
    // warm-up: one pass in seed order (later passes still speed up by
    // some 10%, but a second would not fit the run budget), which
    // writes each result as parquet beside the panel's oracle SQL, the
    // layout graft.Verify writes for dev/compare.py. The hash of each
    // written result is what every timed run must reproduce.
    val resultsDir = c.run.resolve("results")
    Files.createDirectories(resultsDir)
    val hashes = mutable.Map[String, String]()
    def reproduces(q: Query, rows: Array[Row]): Unit =
      if (!hashes.get(q.name).contains(Canon.hash(rows)))
        check(s"${q.name} result differs from the checked one", ok = false)
    def warm(q: Query)(body: => Unit): Unit = {
      try body
      catch { case e: Throwable =>
        check(s"${q.name} warm-up threw", ok = false, e.toString.take(300))
      }
      settle()
    }
    val w0 = now()
    rng.shuffle(queries).foreach(q => warm(q) {
      val df = q.fn(spark, c.data)
      val rows = df.collect()
      hashes(q.name) = Canon.hash(rows)
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        .coalesce(1).write.parquet(resultsDir.resolve(q.name).toString)
    })
    Files.writeString(resultsDir.resolve("oracle_sql.json"),
      Json(queries.flatMap(q => q.oracle.map(q.name -> _)).toMap))
    releaseCaches()
    val warmupS = now() - w0
    startTrace()
    // timed: whole passes, each in a fresh seeded order, so every run
    // times each panel query equally often
    var order = Seq.empty[Query]
    def one(): Option[Map[String, Any]] = {
      val q = order.head
      order = order.tail
      val (rows, rec) = call(q.name) {
        if (tracer.isEmpty) (q.fn(spark, c.data).collect(), 0.0, 0.0)
        else {
          val t0 = now()
          val df = q.fn(spark, c.data)
          val t1 = now()
          df.queryExecution.executedPlan
          val t2 = now()
          (df.collect(), t1 - t0, t2 - t1)
        }
      }
      reproduces(q, rows._1)
      Some(Map("query" -> q.name, "calls" -> Seq(rec ++
        (if (tracer.isEmpty) Map.empty[String, Any]
         else Map("plans.build_s" -> rows._2,
           "plans.optimize_s" -> rows._3)))))
    }
    val (ops, attempted, failed, measuredS) = loop(
      () => { order = rng.shuffle(queries); () },
      () => order.nonEmpty, () => one())
    Map("setup_runs_s" -> setupS, "warmup_s" -> warmupS,
      "measured_s" -> measuredS, "ops" -> ops, "attempted" -> attempted,
      "failed" -> failed, "results_dir" -> resultsDir.toString)
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }
}

/** Order-independent hash of collected rows, for the check that every
  * timed run of a query reproduces its warm-up result. Doubles are
  * rounded to 9 significant digits first, so a re-association of a
  * floating sum does not read as a mismatch. */
object Canon {
  private def norm(v: Any): Any = v match {
    case d: Double => f"$d%.9g"
    case f: Float => f"${f.toDouble}%.9g"
    case b: java.math.BigDecimal => b.toPlainString
    case r: Row => r.toSeq.map(norm).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"$k:${norm(x)}" }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case null => "null"
    case other => other.toString
  }

  def hash(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(r => norm(r).toString).sorted
      .foreach(s => md.update(s.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case ch if ch < ' ' => b ++= f"\\u${ch.toInt}%04x"
      case ch => b += ch
    }
    (b += '"').toString
  }

  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${apply(x)}" }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
