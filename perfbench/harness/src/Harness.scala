package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s.{DefaultFormats, Extraction, Formats}
import org.json4s.jackson.{JsonMethods, Serialization}
import graft.SparkEntry

/** Closed-loop client for the repo benchmark: one client submits a query
  * (constructor call, then a `noop` write), waits for it, then submits the
  * next. It is launched by `perfbench/run.py`, which owns the workload
  * lists, the seed and every metric; this side only executes and records.
  *
  * Usage: `perfbench.Harness <plan-file>`. The plan is one `key values…`
  * line per setting (see [[Plan]]). Protocol on stdout: `READY` once the
  * session is built and every query name resolved, `DONE` once the result
  * file is written. The process then waits to be killed, so the caller
  * can read the JVM's peak RSS first.
  */
object Harness {

  final case class Plan(
      fixture: String,
      cores: Int,
      seconds: Double,
      traced: Boolean,
      out: String,
      checkDir: String,
      warehouse: String,
      localDir: String,
      orders: Vector[Vector[String]],
      plantThrow: Set[String],
      plantWrong: Set[String]) {
    def names: Vector[String] = orders.head.sorted
  }

  object Plan {
    def read(path: String): Plan = {
      val lines = scala.io.Source.fromFile(path, "UTF-8").getLines()
        .map(_.trim.split("\\s+").toVector).filter(_.head.nonEmpty).toVector
      def one(k: String): String = lines.find(_.head == k).map(_(1))
        .getOrElse(sys.error(s"plan: missing $k"))
      def all(k: String): Vector[Vector[String]] = lines.filter(_.head == k).map(_.tail)
      val orders = all("order")
      require(orders.nonEmpty, "plan: no order lines")
      Plan(one("fixture"), one("cores").toInt, one("seconds").toDouble,
        one("traced") == "1", one("out"), one("check_dir"),
        one("warehouse"), one("local_dir"), orders,
        all("plant_throw").flatten.toSet, all("plant_wrong").flatten.toSet)
    }
  }

  type Query = (SparkSession, String) => DataFrame

  /** A query as the benchmark runs it. The two plants exist only for the
    * benchmark's self-test: they prove a throw and a wrong result each
    * reach `failed_frac`.
    */
  def resolve(plan: Plan): Map[String, Query] = {
    val all = SparkEntry.queries
    val unknown = plan.orders.flatten.toSet.diff(all.keySet)
    require(unknown.isEmpty, s"unknown queries: ${unknown.toSeq.sorted.mkString(" ")}")
    plan.names.map { n =>
      val fn = all(n)
      val q: Query =
        if (plan.plantThrow(n)) (_, _) => throw new IllegalStateException(s"planted failure in $n")
        else if (plan.plantWrong(n)) (s, d) => { val df = fn(s, d); df.union(df.limit(1)) }
        else fn
      n -> q
    }.toMap
  }

  def session(plan: Plan): SparkSession = SparkSession.builder()
    .master(s"local[${plan.cores}]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", plan.cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", plan.warehouse)
    .config("spark.local.dir", plan.localDir)
    .getOrCreate()

  final case class QueryRun(name: String, pass: Int, startMs: Long, constructEndMs: Long,
      endMs: Long, constructS: Double, actionS: Double, error: Option[String])

  final case class PassRun(index: Int, traced: Boolean, hostCalib1tS: Double, hostCalib4tS: Double,
      wallS: Double, queries: Vector[QueryRun])

  final case class Check(out: String, error: Option[String])

  /** The result file `perfbench/run.py` reads back, written with snake_case keys. */
  final case class Result(fixture: String, cores: Int, passes: Vector[PassRun],
      checks: Vector[Check], trace: Option[Tracer.Trace])

  implicit val formats: Formats = DefaultFormats.preservingEmptyValues

  /** Job group of one (query, pass) sample; the trace joins on it. */
  def groupId(name: String, pass: Int): String = s"$name#$pass"

  val PhaseKey = "perfbench.phase"

  def runQuery(spark: SparkSession, plan: Plan, name: String, fn: Query, pass: Int): QueryRun = {
    val sc = spark.sparkContext
    val id = groupId(name, pass)
    // Set before the constructor runs, so eager construction-time jobs
    // (schema inference, localCheckpoint, capped collects) join the query.
    sc.setJobGroup(id, id, interruptOnCancel = false)
    sc.setJobDescription(null) // SQL executions then keep their call site as description
    sc.setLocalProperty(PhaseKey, "construct")
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var t1 = t0
    var constructEndMs = startMs
    val error =
      try {
        val df = fn(spark, plan.fixture)
        t1 = System.nanoTime()
        constructEndMs = System.currentTimeMillis()
        sc.setLocalProperty(PhaseKey, "action")
        df.write.format("noop").mode("overwrite").save()
        None
      } catch {
        case e: Throwable => Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
      } finally {
        sc.setLocalProperty(PhaseKey, null)
        sc.clearJobGroup()
      }
    val t2 = System.nanoTime()
    if (t1 == t0) { t1 = t2; constructEndMs = System.currentTimeMillis() }
    QueryRun(name, pass, startMs, constructEndMs, System.currentTimeMillis(),
      (t1 - t0) / 1e9, (t2 - t1) / 1e9, error)
  }

  def runPass(spark: SparkSession, plan: Plan, fns: Map[String, Query], index: Int,
      traced: Boolean): PassRun = {
    val (c1, c4) = (HostCalib.time(1), HostCalib.time(4))
    val order = plan.orders(index % plan.orders.size)
    val t0 = System.nanoTime()
    val qs = order.map(n => runQuery(spark, plan, n, fns(n), index))
    PassRun(index, traced, c1, c4, (System.nanoTime() - t0) / 1e9, qs)
  }

  /** Output check, outside the timed passes: each query once, written the
    * way `graft.Verify` writes it, so `tools/selfcheck.py`'s compare
    * applies unchanged. A query with no DuckDB oracle is written twice,
    * and the caller compares the two digests instead.
    */
  def check(spark: SparkSession, plan: Plan, fns: Map[String, Query]): Vector[Check] = {
    val oracle = SparkEntry.oracleSql
    val sc = spark.sparkContext
    val results = plan.names.flatMap { n =>
      val outs = if (oracle.contains(n)) Seq(n) else Seq(n, s"$n.rerun")
      outs.map { out =>
        sc.setJobGroup(s"check:$out", s"check:$out", interruptOnCancel = false)
        val err =
          try {
            fns(n)(spark, plan.fixture).coalesce(1).write.mode("overwrite")
              .parquet(s"${plan.checkDir}/$out")
            None
          } catch { case e: Throwable => Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}") }
          finally sc.clearJobGroup()
        Check(out, err)
      }
    }
    val sql = plan.names.flatMap(n => oracle.get(n).map(n -> _)).toMap
    Files.writeString(Paths.get(s"${plan.checkDir}/oracle_sql.json"), Serialization.write(sql))
    results
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: perfbench.Harness <plan-file>")
    val plan = Plan.read(args(0))
    val spark = session(plan)
    spark.sparkContext.setLogLevel("ERROR")
    val fns = resolve(plan)
    println("READY")
    Console.out.flush()

    HostCalib.time(4) // JIT-compile the calibration loop outside any reported figure
    val passes = ArrayBuffer(runPass(spark, plan, fns, 0, traced = false))
    // The output check doubles as a second warm-up: the warm passes that
    // follow then measure a JIT-compiled engine.
    val checks = check(spark, plan, fns)
    // Warm passes run for the measured window. A traced run alternates
    // untraced and traced passes, registering the listeners for the traced
    // ones only, so its tracing overhead is a same-JVM, same-warmth
    // difference.
    val tracer = if (plan.traced) Some(new Tracer) else None
    val t0 = System.nanoTime()
    while (passes.size < 2 || (System.nanoTime() - t0) / 1e9 < plan.seconds ||
        (tracer.isDefined && !passes.exists(_.traced))) {
      val i = passes.size
      tracer.filter(_ => i % 2 == 0) match {
        case Some(t) =>
          spark.sparkContext.addSparkListener(t)
          spark.listenerManager.register(t)
          passes += runPass(spark, plan, fns, i, traced = true)
          t.drain(spark, s"sentinel#$i")
          spark.listenerManager.unregister(t)
          spark.sparkContext.removeSparkListener(t)
        case None => passes += runPass(spark, plan, fns, i, traced = false)
      }
    }
    val result = Result(plan.fixture, plan.cores, passes.toVector, checks, tracer.map(_.snapshot))
    Files.writeString(Paths.get(plan.out),
      JsonMethods.compact(Extraction.decompose(result).snakizeKeys))
    println("DONE")
    Console.out.flush()
    Thread.sleep(Long.MaxValue)
  }
}

/** Host-speed control: a fixed integer loop, no engine code, timed on 1 and
  * on 4 threads before every pass. It is printed next to the pass to flag
  * a slow host; no timing is corrected or dropped because of it.
  */
object HostCalib {
  @volatile private var sink = 0L

  private def spin(n: Long): Long = {
    var x = 88172645463325252L
    var i = 0L
    while (i < n) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    x
  }

  def time(threads: Int): Double = {
    val t0 = System.nanoTime()
    val ts = (1 to threads).map(_ => new Thread(() => sink += spin(40000000L)))
    ts.foreach(_.start())
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }
}
