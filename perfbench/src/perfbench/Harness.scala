package perfbench

import graft.{Graft, SparkEntry}
import graft.sources.CowTable
import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark run in one JVM: set-up (session, an output-check pass,
  * warm passes), then a closed loop of timed passes (one client, one operation at a time)
  * until the time budget is spent. Writes its raw record as
  * JSON; `perfbench/run.py` turns it into the printed metrics.
  *
  * Each layer is timed from outside, around calls into its public
  * functions: the query builders in `SparkEntry.queries` (operators), the
  * noop-sink action on the returned DataFrame (plans, then execution),
  * `Graft.session`, and `CowTable.merge`/`morUpsert`/`read` (sources).
  * In a traced run a SparkListener and a QueryExecutionListener attribute
  * every job, stage and planning phase to the op whose job group it
  * carries; traced and untraced passes alternate so the tracing overhead
  * is measured in the same process.
  */
object Harness {

  final case class Conf(
      workload: String, seed: Long, seconds: Double, trace: Boolean, data: String, work: String,
      out: String, cores: Int, warm: Int, minPasses: Int, fixtures: Seq[String], ops: Seq[String], commits: Int, upserts: Int,
      deletes: Int)

  def parse(argv: Array[String]): Conf = {
    val m = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    def list(k: String) = m.get(k).toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
    Conf(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1", m("data"),
      m("work"), m("out"), m("cores").toInt, m.getOrElse("warm", "0").toInt,
      m.getOrElse("min_passes", "1").toInt, list("fixtures"), list("ops"),
      m.getOrElse("commits", "0").toInt, m.getOrElse("upserts", "0").toInt, m.getOrElse("deletes", "0").toInt)
  }

  // ------------------------------------------------------------ records

  final case class OpRec(
      pass: Int, id: String, name: String, kind: String, traced: Boolean,
      startMs: Long, buildEndMs: Long, endMs: Long, durS: Double, buildS: Double, error: String)

  final case class PassRec(pass: Int, traced: Boolean, wallS: Double, gcS: Double, jitS: Double)

  final case class JobRec(id: Int, group: String, callSite: String, start: Long, var end: Long, stages: Seq[Int])

  final case class StageRec(
      id: Int, attempt: Int, name: String, start: Long, end: Long, tasks: Int, runMs: Long,
      cpuNs: Long, gcMs: Long, shW: Long, shR: Long, spill: Long, input: Long)

  final case class PlanRec(op: String, phases: Map[String, (Long, Long)])

  /** Collects jobs, stages, task retries and planning phases while `on`. */
  final class Tracer extends SparkListener with QueryExecutionListener {
    @volatile var on = false
    @volatile var currentOp = ""
    val jobs = mutable.LinkedHashMap[Int, JobRec]()
    val stages = mutable.ArrayBuffer[StageRec]()
    val retries = mutable.Map[Int, Int]().withDefaultValue(0)
    val plans = mutable.ArrayBuffer[PlanRec]()

    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) synchronized {
      val p = Option(e.properties)
      val group = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")
      // a job's call site is the name of its result stage
      val site = p.flatMap(x => Option(x.getProperty("callSite.short")))
        .getOrElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse(""))
      jobs(e.jobId) = JobRec(e.jobId, group, site, e.time, e.time, e.stageIds)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (on) synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) synchronized {
      val si = e.stageInfo
      val tm = si.taskMetrics
      if (tm != null)
        stages += StageRec(si.stageId, si.attemptNumber(), si.name, si.submissionTime.getOrElse(0L),
          si.completionTime.getOrElse(0L), si.numTasks, tm.executorRunTime, tm.executorCpuTime,
          tm.jvmGCTime, tm.shuffleWriteMetrics.bytesWritten, tm.shuffleReadMetrics.totalBytesRead,
          tm.memoryBytesSpilled + tm.diskBytesSpilled, tm.inputMetrics.bytesRead)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (on && (e.taskInfo.attemptNumber > 0 || e.taskInfo.speculative)) synchronized {
        retries(e.stageId) += 1
      }

    private def record(qe: QueryExecution): Unit = if (on) synchronized {
      plans += PlanRec(currentOp, qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) })
    }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  // --------------------------------------------------------------- JSON

  def js(v: Any): String = v match {
    case null                => "null"
    case s: String           => "\"" + s.flatMap {
        case '"'          => "\\\""
        case '\\'         => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c            => c.toString
      } + "\""
    case b: Boolean          => b.toString
    case d: Double           => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float            => js(f.toDouble)
    case n: Int              => n.toString
    case n: Long             => n.toString
    case m: collection.Map[_, _] => m.map { case (k, x) => js(k.toString) + ":" + js(x) }.mkString("{", ",", "}")
    case s: Iterable[_]      => s.map(js).mkString("[", ",", "]")
    case p: Product          => p.productIterator.map(js).mkString("[", ",", "]")
    case o                   => js(o.toString)
  }

  // ------------------------------------------------------------ helpers

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def treeBytes(root: String): Long = {
    val p = Paths.get(root)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size(_)).sum
      finally s.close()
    }
  }

  /** (size, mtime) of every file and directory under `roots` */
  def snapshot(roots: Seq[String]): Map[String, (Long, Long)] = roots.flatMap { r =>
    val p = Paths.get(r)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.map(f => f.toString -> (Files.size(f), Files.getLastModifiedTime(f).toMillis)).toList
      finally s.close()
    }
  }.toMap

  def deleteTree(root: String): Unit = {
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete(_))
      finally s.close()
    }
  }

  /** total length of the parts of [lo, hi] covered by `ivs` */
  def covered(lo: Long, hi: Long, ivs: Seq[(Long, Long)]): Long = {
    var cur = lo
    var sum = 0L
    ivs.map { case (a, b) => (a.max(lo), b.min(hi)) }.filter(x => x._2 > x._1).sortBy(_._1).foreach {
      case (a, b) =>
        if (b > cur) { sum += b - a.max(cur); cur = b }
    }
    sum
  }

  def nproc: Int = Runtime.getRuntime.availableProcessors()

  // --------------------------------------------------------------- main

  def main(argv: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val c = parse(argv)
    val out = mutable.LinkedHashMap[String, Any]()
    val s0 = System.nanoTime
    val spark = Graft.session("perfbench", c.cores.toString)
    val sessionS = (System.nanoTime - s0) / 1e9
    val sc = spark.sparkContext
    val tracer = new Tracer
    sc.addSparkListener(tracer)
    spark.listenerManager.register(tracer)
    // relative to the run's own working directory: CowTable keeps paths in
    // the caller's form, so manifests, and the bytes a commit writes, do not
    // depend on where the run happens to live
    val tableRoot = "table"
    try {
      out("provenance") = Map(
        "spark_version" -> spark.version,
        "cores" -> c.cores,
        "spark_conf" -> spark.conf.getAll.filter(kv => kv._1.startsWith("spark.sql.") || kv._1 == "spark.master"),
        "SPARK_GRAFT_EXTRA_CONF" -> sys.env.getOrElse("SPARK_GRAFT_EXTRA_CONF", ""),
        "SPARK_GRAFT_SHJ_THRESHOLD" -> sys.env.getOrElse("SPARK_GRAFT_SHJ_THRESHOLD", ""),
        "etl_queries" -> SparkEntry.queries.keys.filter(_.startsWith("etl_")).toSeq.sorted)
      val i0 = System.nanoTime
      val w = c.workload match {
        case "table-commits" => new Commits(spark, c, tableRoot)
        case _               => new Queries(spark, c)
      }
      val initS = (System.nanoTime - i0) / 1e9
      val ops = mutable.ArrayBuffer[OpRec]()
      val passes = mutable.ArrayBuffer[PassRec]()

      def runPass(p: Int, traced: Boolean): Unit = {
        w.beforePass(p)
        tracer.on = traced
        val (g0, j0, n0) = (gcMs, jitMs, System.nanoTime)
        val recs = w.pass(p, traced, tracer)
        val wall = (System.nanoTime - n0) / 1e9
        tracer.on = false
        passes += PassRec(p, traced, wall, (gcMs - g0) / 1e3, (jitMs - j0) / 1e3)
        ops ++= recs
        w.afterPass(p)
      }

      // ---- set-up: the output-check pass, which also primes any fixture a
      // query builds on first call, then untimed warm passes that let the
      // JIT compile the hot code before the first timed pass
      val c0 = System.nanoTime
      val check = w.check()
      val checkS = (System.nanoTime - c0) / 1e9
      for (p <- 1 to c.warm) { w.beforePass(-p); w.pass(-p, traced = false, tracer); w.afterPass(-p) }
      val warmS = (System.nanoTime - c0) / 1e9 - checkS
      val setupS = (System.currentTimeMillis - jvmStart) / 1e3 - w.checkOnlyS(checkS)
      val fixturesBefore = snapshot(c.fixtures)

      // ---- timed closed loop: whole passes, at least `minPasses`, ending
      // at the pass boundary nearest the time budget; a traced run
      // alternates untraced and traced passes and ends on a traced one
      val t0 = System.nanoTime
      var p = 0
      def elapsed = (System.nanoTime - t0) / 1e9
      while (p < c.minPasses.max(1) || elapsed + elapsed / p / 2 < c.seconds || (c.trace && (p < 2 || p % 2 == 1))) {
        runPass(p, traced = c.trace && p % 2 == 1)
        p += 1
      }
      val fixturesAfter = snapshot(c.fixtures)
      val fixtureChanges = (fixturesBefore.keySet ++ fixturesAfter.keySet)
        .filter(k => fixturesBefore.get(k) != fixturesAfter.get(k)).toSeq.sorted

      out("setup") = Map(
        "session_start_s" -> sessionS, "init_s" -> initS, "warm_s" -> warmS, "setup_s" -> setupS,
        "fixture_prime_s" -> w.primeS(checkS),
        "check_s" -> w.checkOnlyS(checkS))
      out("check") = check
      out("passes") = passes.map(x => Map("pass" -> x.pass, "traced" -> x.traced, "wall_s" -> x.wallS, "gc_s" -> x.gcS, "jit_s" -> x.jitS))
      out("ops") = ops.map(o => Map("pass" -> o.pass, "name" -> o.name, "kind" -> o.kind,
        "traced" -> o.traced, "dur_s" -> o.durS, "error" -> o.error))
      out("fixture_changes") = fixtureChanges
      out("extra") = w.extra
      if (c.trace) {
        val (layers, spans, uncovered) = Layers.summarize(c, sessionS, ops.toSeq, passes.toSeq, tracer, w.layerExtra)
        out("layers") = layers
        out("uncovered") = uncovered
        val tdir = Paths.get(c.work, "trace")
        Files.createDirectories(tdir)
        Files.write(tdir.resolve("spans.jsonl"), spans.map(js).asJava)
      }
      out("peak_rss_mb") = peakRssMb
    } catch {
      case e: Throwable =>
        out("fatal") = s"${e.getClass.getName}: ${e.getMessage}"
        e.printStackTrace()
    } finally {
      deleteTree(tableRoot)
      Files.write(Paths.get(c.out), js(out).getBytes("UTF-8"))
      spark.stop()
    }
  }

  // ----------------------------------------------------------- workloads

  trait Workload {
    def check(): Any
    def beforePass(p: Int): Unit = ()
    def pass(p: Int, traced: Boolean, t: Tracer): Seq[OpRec]
    def afterPass(p: Int): Unit = ()
    /** time of the check pass that primes fixtures (outside `setup_s`) */
    def primeS(checkS: Double): Double
    /** time of the check pass spent only on checking (outside `setup_s`) */
    def checkOnlyS(checkS: Double): Double
    def extra: Map[String, Any] = Map.empty
    def layerExtra: Map[String, Double] = Map.empty
  }

  /** time one op: `build` returns the DataFrame to sink (None = the call
    * itself is the op, as for a commit) */
  def timeOp(spark: SparkSession, t: Tracer, p: Int, seq: Int, name: String, kind: String, traced: Boolean)(
      build: => Option[DataFrame]): OpRec = {
    val id = s"p$p.$seq.$name"
    val sc = spark.sparkContext
    sc.setJobGroup(id, name, interruptOnCancel = false)
    t.currentOp = id
    val (w0, n0) = (System.currentTimeMillis, System.nanoTime)
    var (w1, n1) = (w0, n0)
    var err = ""
    try {
      val df = build
      w1 = System.currentTimeMillis; n1 = System.nanoTime
      df.foreach(_.write.format("noop").mode("overwrite").save())
    } catch { case e: Throwable => err = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}" }
    val (w2, n2) = (System.currentTimeMillis, System.nanoTime)
    sc.clearJobGroup()
    if (traced) PerfbenchBridge.drain(sc)
    OpRec(p, id, name, kind, traced, w0, w1, w2, (n2 - n0) / 1e9, (n1 - n0) / 1e9, err)
  }

  /** `short-queries` / `heavy-queries`: each op builds one SparkEntry
    * query and runs it into the noop sink; the seed sets the order. */
  final class Queries(spark: SparkSession, c: Conf) extends Workload {
    private val all = SparkEntry.queries
    private val oracle = SparkEntry.oracleSql
    val names: Seq[String] = c.ops.filter(all.contains).sorted

    def check(): Any = {
      val dir = s"${c.work}/results"
      deleteTree(dir)
      val errors = mutable.LinkedHashMap[String, String]()
      names.foreach { n =>
        try all(n)(spark, c.data).coalesce(1).write.mode("overwrite").parquet(s"$dir/$n")
        catch { case e: Throwable => errors(n) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}" }
      }
      Files.createDirectories(Paths.get(dir))
      Files.write(Paths.get(s"$dir/oracle_sql.json"), js(oracle.filter(kv => names.contains(kv._1))).getBytes("UTF-8"))
      Map("results_dir" -> dir, "errors" -> errors, "missing" -> c.ops.filterNot(all.contains))
    }

    def pass(p: Int, traced: Boolean, t: Tracer): Seq[OpRec] = {
      val order = new scala.util.Random(c.seed * 1000003L + p).shuffle(names)
      order.zipWithIndex.map { case (n, i) =>
        timeOp(spark, t, p, i, n, "query", traced)(Some(all(n)(spark, c.data)))
      }
    }

    def primeS(checkS: Double): Double = checkS
    def checkOnlyS(checkS: Double): Double = checkS
    override def extra: Map[String, Any] = Map("queries" -> names)
  }

  /** `table-commits`: a chain of seeded commits that alternates
    * copy-on-write `merge` (upserts + deletes) with merge-on-read
    * `morUpsert`, each followed by a snapshot `read`. Every pass replays
    * the same chain on a zero-copy clone of v1, so pass p reads and
    * writes exactly what pass 0 did. */
  final class Commits(spark: SparkSession, c: Conf, root: String) extends Workload {
    import spark.implicits._
    private val bw = CowTable.BucketWidth
    private val base = s"$root/base"
    private val orders = Graft.table(spark, c.data, "orders")
      .select(col("o_orderkey").as("k"), expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    private val nKeys = orders.count()

    // v1: the base table, one directory per key-range bucket
    orders.withColumn("bucket", expr(s"k div ${bw}L")).write.mode("overwrite").partitionBy("bucket").parquet(s"$base/v1")
    CowTable.writeManifestRows(spark, 1, CowTable.statsOf(spark, s"$base/v1", schemaId = 1), base)

    /** (upserts, deletes) for commit i: 80% of keys from the newest tenth
      * of the key space (a little past its end, so some upserts insert),
      * deletes disjoint from upserts; merge-on-read commits only upsert */
    val changes: IndexedSeq[(Seq[(Long, Long)], Seq[Long])] = (1 to c.commits).map { i =>
      val rnd = new scala.util.Random(c.seed * 7919L + i)
      def key(): Long =
        if (rnd.nextDouble() < 0.8) (nKeys * 9 / 10) + rnd.nextLong(nKeys / 10 + nKeys / 100 + 1)
        else rnd.nextLong(nKeys)
      val ups = mutable.LinkedHashSet[Long]()
      while (ups.size < c.upserts) ups += key()
      val dels = mutable.LinkedHashSet[Long]()
      if (isCow(i)) while (dels.size < c.deletes) { val k = key(); if (!ups(k)) dels += k }
      (ups.toSeq.map(k => k -> (100000L + rnd.nextLong(50000000L))), dels.toSeq)
    }

    def isCow(i: Int): Boolean = i % 2 == 1
    def passRoot(p: Int): String = s"$root/p${if (p < 0) s"w${-p}" else p.toString}"

    override def beforePass(p: Int): Unit = CowTable.cloneTable(spark, 1, passRoot(p), base)
    override def afterPass(p: Int): Unit = deleteTree(passRoot(p))

    private def commit(pr: String, i: Int): Unit = {
      val (ups, dels) = changes(i - 1)
      val up = ups.toDF("k", "cents")
      if (isCow(i)) CowTable.merge(spark, i, i + 1, up, dels.toDF("k"), pr)
      else CowTable.morUpsert(spark, i, i + 1, up, pr)
    }

    def pass(p: Int, traced: Boolean, t: Tracer): Seq[OpRec] = {
      val pr = passRoot(p)
      (1 to c.commits).flatMap { i =>
        Seq(
          timeOp(spark, t, p, 2 * i, s"commit$i-${if (isCow(i)) "merge" else "morUpsert"}", "commit", traced) {
            commit(pr, i); None
          },
          timeOp(spark, t, p, 2 * i + 1, s"read$i", "read", traced)(Some(CowTable.read(spark, i + 1, pr))))
      }
    }

    private var layerVals = Map.empty[String, Double]
    private var extraVals = Map.empty[String, Any]
    private var verifyNs = 0L
    private def verify[A](f: => A): A = {
      val t0 = System.nanoTime
      try f finally verifyNs += System.nanoTime - t0
    }

    /** the chain once, checked after every commit against a replay of the
      * change list over `orders` in plain DataFrame operations; also
      * measures the per-commit storage figures, which repeat per seed */
    def check(): Any = {
      val pr = s"$root/check"
      CowTable.cloneTable(spark, 1, pr, base)
      var expect: DataFrame = orders
      val mismatches = mutable.ArrayBuffer[String]()
      val perCommit = mutable.ArrayBuffer[Map[String, Any]]()
      for (i <- 1 to c.commits) {
        val (ups, dels) = changes(i - 1)
        val before = verify(treeBytes(pr))
        commit(pr, i)
        verify {
        val written = treeBytes(pr) - before
        val up = ups.toDF("uk", "ucents")
        expect = expect.join(up, col("k") === col("uk"), "full")
          .select(coalesce(col("k"), col("uk")).as("k"), coalesce(col("ucents"), col("cents")).as("cents"))
        if (dels.nonEmpty) expect = expect.join(dels.toDF("k"), Seq("k"), "left_anti")
        expect = expect.localCheckpoint()
        val got = CowTable.read(spark, i + 1, pr).agg(count(lit(1)), sum("cents")).head()
        val want = expect.agg(count(lit(1)), sum("cents")).head()
        if (got != want) mismatches += s"read${i}: got (count, sum) $got, replay $want"
        val (e0, e1) = (CowTable.entries(spark, i, pr), CowTable.entries(spark, i + 1, pr))
        val rewritten = (e1.toSet -- e0.toSet).map(_.bucket)
        val changed = (ups.map(_._1) ++ dels).map(_ / bw).toSet
        perCommit += Map(
          "commit" -> i, "kind" -> (if (isCow(i)) "merge" else "morUpsert"), "bytes_written" -> written,
          "changed_rows" -> (ups.size + dels.size), "rewritten_buckets" -> rewritten.size,
          "useful_buckets" -> rewritten.count(changed), "manifest_entries" -> e1.size)
        }
      }
      verify {
      val last = c.commits + 1
      val got = CowTable.read(spark, last, pr).orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1)))
      val want = expect.orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1)))
      if (!got.sameElements(want)) mismatches += s"final snapshot v$last differs from the replay row for row"
      val stored = treeBytes(pr) + treeBytes(s"$base/v1") + treeBytes(s"$base/mfiles") + treeBytes(s"$base/manifest_v1")
      val n = c.commits.toDouble
      val bytes = perCommit.map(_("bytes_written").asInstanceOf[Long].toDouble)
      val rows = perCommit.map(_("changed_rows").asInstanceOf[Int].toDouble)
      val rew = perCommit.map(_("rewritten_buckets").asInstanceOf[Int].toDouble).sum
      layerVals = Map(
        "sources.commit_bytes_written" -> bytes.sum / n,
        "sources.write_amp" -> bytes.sum / (16.0 * rows.sum),
        "sources.rewrite_useful_ratio" -> (if (rew == 0) 0.0 else perCommit.map(_("useful_buckets").asInstanceOf[Int]).sum / rew),
        "sources.manifest_entries" -> perCommit.last("manifest_entries").asInstanceOf[Int].toDouble)
      extraVals = Map(
        "stored_bytes_per_user_byte" -> stored / (16.0 * got.length), "live_rows" -> got.length,
        "stored_bytes" -> stored)
      deleteTree(pr)
      Map("mismatches" -> mismatches, "commits" -> perCommit, "checked_reads" -> c.commits)
      }
    }

    def primeS(checkS: Double): Double = 0.0
    def checkOnlyS(checkS: Double): Double = verifyNs / 1e9
    override def extra: Map[String, Any] = extraVals
    override def layerExtra: Map[String, Double] = layerVals
  }
}
