package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.rules.RuleExecutor

import graft.{GraftSession, SparkEntry}

/** JVM side of the graft benchmark. It calls graft only through its
  * public entry points (`GraftSession.build`, the `SparkEntry.queries`
  * registry, `GraftSession.releaseCachedBlocks`) and records raw samples;
  * `perfbench/run.py` turns them into metrics.
  *
  * Modes:
  *  - `run <plan>`: the warm-up and timed passes of a plan file.
  *  - `oracle <out.json> <name>...`: the registered oracle SQL of names.
  *  - `selftest <out.json>`: listener totals of a known two-stage job.
  */
object Harness {
  def main(args: Array[String]): Unit = args.toList match {
    case "run" :: plan :: Nil => run(Plan.read(plan))
    case "oracle" :: out :: names => oracle(out, names)
    case "selftest" :: out :: Nil => selftest(out)
    case _ =>
      System.err.println("usage: Harness run <plan> | oracle <out> <name>... | selftest <out>")
      sys.exit(2)
  }

  /** Builds the session, loads the registry and prints
    * `READY <epoch ms> <seconds spent in GraftSession.build>`. */
  private def ready(cpus: String): (SparkSession, Map[String, (SparkSession, String) => DataFrame]) = {
    val t0 = System.nanoTime()
    val spark = GraftSession.build(cpus)
    val buildS = (System.nanoTime() - t0) / 1e9
    val registry = SparkEntry.queries
    println(s"READY ${System.currentTimeMillis()} $buildS")
    Console.out.flush()
    (spark, registry)
  }

  private def oracle(out: String, names: List[String]): Unit = {
    val sql = SparkEntry.oracleSql
    val found = names.flatMap(n => sql.get(n).map(n -> Json.str(_)))
    Files.writeString(Paths.get(out), Json.obj(found))
  }

  private def selftest(out: String): Unit = {
    val spark = GraftSession.build("2")
    val tracer = new Tracer
    spark.sparkContext.addSparkListener(tracer)
    spark.sparkContext.setLocalProperty(Tracer.QidKey, "selftest")
    // One job, two stages: 4 map tasks, then 3 reduce tasks.
    val rows = spark.sparkContext.parallelize(1 to 1000, 4)
      .map(x => (x % 10, 1)).reduceByKey(_ + _, 3).collect()
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    val m = tracer.counters("selftest") + ("rows" -> rows.length.toDouble)
    Files.writeString(Paths.get(out), Json.nums(m))
    spark.stop()
  }

  private def run(plan: Plan): Unit = {
    val (spark, registry) = ready(plan.cpus)
    val missing = plan.allNames.filterNot(registry.contains)
    if (missing.nonEmpty) {
      System.err.println(s"unknown queries: ${missing.mkString(" ")}")
      sys.exit(3)
    }
    val sc = spark.sparkContext
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.isCollectionUsageThresholdSupported)
      .find(p => p.getName.contains("Old") || p.getName.contains("Tenured"))
    def gcCount(): Long = gcBeans.map(_.getCollectionCount).sum
    // Full collections: what System.gc() runs, in releaseCachedBlocks and
    // in Spark's periodic cleaner GC alike.
    val fullBeans = gcBeans.filter(b => b.getName.contains("Old") || b.getName.contains("MarkSweep"))
    def fullGcCount(): Long = fullBeans.map(_.getCollectionCount).sum
    def gcMs(): Long = gcBeans.map(_.getCollectionTime).sum

    val tracer = if (plan.passes.exists(_._1)) Some(new Tracer) else None
    tracer.foreach { t =>
      sc.addSparkListener(t)
      spark.streams.addListener(t.streaming)
    }

    val spans = mutable.ArrayBuffer.empty[String]
    def span[T](qid: String, name: String)(body: => T): T = {
      val (w, t) = (System.currentTimeMillis(), System.nanoTime())
      try body
      finally {
        val s = (System.nanoTime() - t) / 1e9
        spans += Json.obj(Seq("qid" -> Json.str(qid), "span" -> Json.str(name),
          "start_ms" -> w.toString, "dur_s" -> Json.num(s)))
      }
    }

    var heapPeakMb = 0.0
    def readHeap(): Unit = oldGen.foreach { p =>
      val u = p.getCollectionUsage
      if (u != null) heapPeakMb = math.max(heapPeakMb, u.getUsed / 1048576.0)
    }

    val records = mutable.ArrayBuffer.empty[String]
    val pending = mutable.ArrayBuffer.empty[(String, mutable.Map[String, Double], Long, Long, Long)]
    var seq = 0

    /** One sample: `Q.run`, then a `noop` write of every column and the
      * final sort. The release of cached blocks follows, outside it. */
    def sample(name: String, sf: String, phase: String, pass: Int, traced: Boolean,
        check: Boolean = false): Unit = {
      seq += 1
      val qid = s"$phase:$pass:$seq:$name"
      sc.setLocalProperty(Tracer.QidKey, qid)
      tracer.foreach(_.current = qid)
      val m = mutable.Map.empty[String, Double]
      val rules0 = if (traced) Rules.snapshot() else null
      val cg0 = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
      val (gcN0, full0, gcT0, jit0) = (gcCount(), fullGcCount(), gcMs(), jitMs())
      var err: String = null
      var result: DataFrame = null
      var buildEnd = 0L
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try {
        val df = if (!traced) registry(name)(spark, sf) else {
          val t = System.nanoTime()
          val d = span(qid, "build")(registry(name)(spark, sf))
          m("operators.build_s") = (System.nanoTime() - t) / 1e9
          buildEnd = System.currentTimeMillis()
          val qe = d.queryExecution
          for ((key, label, force) <- Seq[(String, String, () => Any)](
              ("catalyst.analysis_s", "analysis", () => qe.analyzed),
              ("catalyst.optimize_s", "optimize", () => qe.optimizedPlan),
              ("catalyst.physical_s", "physical", () => qe.executedPlan))) {
            val t1 = System.nanoTime()
            span(qid, label)(force())
            m(key) = (System.nanoTime() - t1) / 1e9
          }
          d
        }
        if (traced) span(qid, "execute")(df.write.format("noop").mode("overwrite").save())
        else df.write.format("noop").mode("overwrite").save()
        result = df
      } catch {
        case e: Throwable => err = describe(e)
      }
      val secs = (System.nanoTime() - t0) / 1e9
      val w1 = System.currentTimeMillis()
      val (gcIn, fullIn) = (gcCount() - gcN0, fullGcCount() - full0)
      // Untimed, and before the release drops the frame's checkpointed
      // blocks: the result as parquet, for run.py to hash.
      if (check && result != null) {
        try result.coalesce(1).write.mode("overwrite").parquet(s"${plan.out}/results/$name")
        catch { case e: Throwable => err = describe(e) }
      }
      if (traced) {
        Rules.delta(rules0, Rules.snapshot()).foreach { case (k, v) => m(k) = v }
        m("codegen.compiles") = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0._1).toDouble
        m("codegen.compile_s") = (CodeGenerator.compileTime - cg0._2) / 1e9
        m("GraftSession.leaked_storage_mb") =
          sc.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
        m("operators.checkpointed_rdds") = sc.getPersistentRDDs.size.toDouble
      }
      val (gcBefore, fullBefore) = (gcCount(), fullGcCount())
      val r0 = System.nanoTime()
      if (traced) span(qid, "release")(GraftSession.releaseCachedBlocks(spark))
      else GraftSession.releaseCachedBlocks(spark)
      if (traced) {
        m("GraftSession.release_s") = (System.nanoTime() - r0) / 1e9
        m("GraftSession.forced_gc") = (gcCount() - gcBefore).toDouble
        // The whole query: sample, result check and release.
        m("jvm.gc_count") = (gcCount() - gcN0).toDouble
        m("jvm.gc_s") = (gcMs() - gcT0) / 1e3
        m("jvm.jit_s") = (jitMs() - jit0) / 1e3
        spans += Json.obj(Seq("qid" -> Json.str(qid), "span" -> Json.str("query"),
          "start_ms" -> w0.toString, "dur_s" -> Json.num((System.nanoTime() - t0) / 1e9)))
        pending += ((qid, m, w0, w1, buildEnd))
      }
      sc.setLocalProperty(Tracer.QidKey, null)
      records += Json.obj(Seq(
        "qid" -> Json.str(qid), "name" -> Json.str(name), "phase" -> Json.str(phase),
        "pass" -> pass.toString, "traced" -> traced.toString, "s" -> Json.num(secs),
        "w0" -> w0.toString, "w1" -> w1.toString, "gc" -> gcIn.toString,
        "full_gc" -> fullIn.toString, "release_full_gc" -> (fullGcCount() - fullBefore).toString,
        "err" -> (if (err == null) "null" else Json.str(err))))
    }

    // 1. Warm-up pass on the small scale factor, in the fresh session:
    //    it pays every one-time cost (first job, JIT, codegen).
    plan.warmup.foreach(n => sample(n, plan.small, "warmup", 0, traced = false))

    // 2. Timed passes, traced or not as the plan says. The first also
    //    writes every result for the check. Each pass ends with a GC,
    //    outside every sample; after an untraced pass the old generation
    //    is read.
    plan.passes.zipWithIndex.foreach { case ((traced, names), p) =>
      names.foreach(n => sample(n, plan.full, "timed", p, traced, check = p == 0))
      System.gc()
      if (!traced) readHeap()
    }

    // 3. Drain the listener bus and attach each traced query's counters.
    val counters = tracer.map { t =>
      org.apache.spark.graftbench.Bus.drain(sc)
      pending.map { case (qid, m, w0, w1, buildEnd) =>
        Tracer.CounterKeys.foreach(k => m(k) = 0.0)
        t.counters(qid).foreach { case (k, v) => m(k) = v }
        m("operators.build_jobs") = t.jobsStartedBy(qid, buildEnd).toDouble
        m("exec.driver_only_s") = t.uncoveredMs(qid, w0, w1) / 1e3
        Json.obj(Seq("qid" -> Json.str(qid), "m" -> Json.nums(m)))
      }
    }.getOrElse(Nil)

    val result = Json.obj(Seq(
      "cpus" -> plan.cpus,
      "heap_peak_mb" -> Json.num(heapPeakMb),
      "samples" -> Json.arr(records),
      "traced" -> Json.arr(counters),
      "gc_total" -> gcCount().toString,
      "full_gc_total" -> fullGcCount().toString))
    Files.writeString(Paths.get(s"${plan.out}/samples.json"), result)
    if (tracer.nonEmpty) Files.writeString(Paths.get(s"${plan.out}/spans.jsonl"), spans.mkString("", "\n", "\n"))
    spark.stop()
  }

  private def describe(e: Throwable): String =
    s"${e.getClass.getName}: ${e.getMessage}".take(500)

  private def jitMs(): Long = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime else 0L
  }
}

/** Catalyst rule metering deltas, read through `RuleExecutor`'s public
  * report: every rule's time and runs, split out for graft's own rules. */
object Rules {
  private val Row = """^\s*(\S+)\s+(\d+) / (\d+)\s+(\d+) / (\d+)\s*$""".r

  final case class Snap(totalNs: Long, graftNs: Long, graftRuns: Long, graftEffective: Long)

  def snapshot(): Snap = {
    val total = RuleExecutor.getCurrentMetrics().time
    var (ns, runs, eff) = (0L, 0L, 0L)
    RuleExecutor.dumpTimeSpent().split("\n").foreach {
      case Row(rule, _, time, effective, all) if rule.startsWith("graft.plans.") =>
        ns += time.toLong; runs += all.toLong; eff += effective.toLong
      case _ =>
    }
    Snap(total, ns, runs, eff)
  }

  def delta(a: Snap, b: Snap): Map[String, Double] = Map(
    "catalyst.rule_s" -> (b.totalNs - a.totalNs) / 1e9,
    "plans.rule_s" -> (b.graftNs - a.graftNs) / 1e9,
    "plans.rule_runs" -> (b.graftRuns - a.graftRuns).toDouble,
    "plans.rule_effective_runs" -> (b.graftEffective - a.graftEffective).toDouble)
}

/** The run plan `run.py` writes: one `key value...` line each, and one
  * `pass traced|untraced <name>...` line per timed pass, in order. */
final case class Plan(
    cpus: String, small: String, full: String, out: String,
    warmup: Seq[String], passes: Seq[(Boolean, Seq[String])]) {
  def allNames: Seq[String] = (warmup ++ passes.flatMap(_._2)).distinct
}

object Plan {
  def read(path: String): Plan = {
    val lines = Files.readAllLines(Paths.get(path)).asScala.toSeq
      .map(_.trim).filter(_.nonEmpty).map(_.split("\\s+").toList)
    def one(k: String) = lines.collectFirst { case `k` :: v :: Nil => v }
      .getOrElse(sys.error(s"plan: missing $k"))
    def list(k: String) = lines.collectFirst { case `k` :: vs => vs }.getOrElse(Nil)
    Plan(one("cpus"), one("small"), one("full"), one("out"), list("warmup"),
      lines.collect {
        case "pass" :: "traced" :: vs => (true, vs)
        case "pass" :: "untraced" :: vs => (false, vs)
      })
  }
}
