package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow, XXH64}
import org.apache.spark.sql.types.StructType

/** Order-insensitive digest of a query result: row count and the sum of
  * a 64-bit hash of every row's UnsafeRow bytes. Executors hash the rows
  * of timed passes where they are produced; the priming pass collects
  * its rows and hashes them on the driver with the same function. */
final case class Digest(rows: Long, hash: Long) {
  def +(o: Digest): Digest = Digest(rows + o.rows, hash + o.hash)
  override def toString: String = f"$rows:$hash%016x"
}

object Digest {
  val Empty = Digest(0, 0)
  def of(row: UnsafeRow): Digest = Digest(1,
    XXH64.hashUnsafeBytes(row.getBaseObject, row.getBaseOffset, row.getSizeInBytes, 42L))
}

/** Runs one workload in this JVM: a priming pass, then timed passes, each
  * over the query order given in the plan file. Writes a JSON result
  * file; `perfbench/run.py` turns it into metrics.
  *
  * Usage: Harness --plan PLAN.json --out RESULT.json
  *        Harness --selftest
  */
object Harness {
  private val om = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    if (args.contains("--selftest")) sys.exit(SelfTest.run())
    val plan = om.readTree(Paths.get(opts("--plan")).toFile)
    val result = run(
      dataDir = plan.get("data").asText,
      orders = plan.get("orders").elements.asScala.map(
        _.elements.asScala.map(_.asText).toVector).toVector,
      cores = plan.get("cores").asInt,
      traced = plan.get("trace").asBoolean,
      dumpDir = Option(plan.get("dump")).filterNot(_.isNull).map(_.asText),
      limitS = plan.get("query_limit_s").asDouble)
    om.writerWithDefaultPrettyPrinter().writeValue(
      Paths.get(opts("--out")).toFile, result)
  }

  /** JVM start, on the System.nanoTime clock. */
  private def processStartNs: Long = {
    val upMs = ManagementFactory.getRuntimeMXBean.getUptime
    System.nanoTime() - upMs * 1000000L
  }

  def run(dataDir: String, orders: Vector[Vector[String]], cores: Int,
      traced: Boolean, dumpDir: Option[String], limitS: Double): java.util.Map[String, Any] = {
    val startNs = processStartNs
    val spans = new Spans
    val spark = spans("engine.session") {
      graft.Engine.session(appName = "perfbench", cores = cores.toString)
    }
    val sc = spark.sparkContext
    val sessionS = spans.records.head.seconds
    val scheduler = new SchedulerLayer
    val catalyst = new CatalystLayer
    val streaming = new StreamingLayer
    if (traced) {
      spans.publishTo(sc)
      sc.addSparkListener(scheduler)
      spark.listenerManager.register(catalyst)
      spark.streams.addListener(streaming)
    }
    val catalog = graft.SparkEntry.queries
    val failures = new java.util.ArrayList[java.util.Map[String, Any]]()
    def fail(pass: Int, q: String, kind: String, msg: String): Unit = {
      System.err.println(s"[perfbench] FAIL pass=$pass $q $kind: $msg")
      failures.add(Map[String, Any]("pass" -> pass, "query" -> q,
        "kind" -> kind, "message" -> msg).asJava)
    }
    var excludedNs = 0L // verification and purge time, kept out of every clock
    def excluded[T](body: => T): T = {
      val t0 = System.nanoTime()
      try body finally excludedNs += System.nanoTime() - t0
    }
    var leakedRdds, leakedBytes = 0L // over the timed passes

    // Drop every persistent RDD except the suffix-rank memo's pinned ones.
    def purge(countLeaks: Boolean): Unit = {
      spark.catalog.clearCache()
      val pinned = graft.PerfbenchHooks.suffixMemoPinnedRddIds
      val leaks = sc.getPersistentRDDs.filter { case (id, _) => !pinned.contains(id) }
      if (countLeaks && traced) {
        val ids = leaks.keySet
        leakedRdds += ids.size
        leakedBytes += sc.getRDDStorageInfo.filter(i => ids.contains(i.id))
          .map(i => i.memSize + i.diskSize).sum
      }
      leaks.values.foreach(_.unpersist(blocking = false))
    }

    // Build the frame, then run it to completion. Returns the digest, and
    // the collected rows when `collect` is set (priming pass).
    def execute(q: String, collect: Boolean): (Digest, Option[(StructType, Array[UnsafeRow])]) = {
      val df: DataFrame = spans("query.build", q)(catalog(q)(spark, dataDir))
      spans("query.materialize", q) {
        val schema = df.schema
        val rdd = df.queryExecution.toRdd
        val out = if (collect) {
          val rows = rdd.mapPartitions { it =>
            val proj = UnsafeProjection.create(schema)
            it.map(r => proj(r).copy())
          }.collect()
          (rows.iterator.map(Digest.of).foldLeft(Digest.Empty)(_ + _), Some(schema -> rows))
        } else {
          val parts = rdd.mapPartitions { it =>
            val proj = UnsafeProjection.create(schema)
            Iterator(it.foldLeft(Digest.Empty)((d, r) => d + Digest.of(proj(r))))
          }.collect()
          (parts.foldLeft(Digest.Empty)(_ + _), None)
        }
        if (traced) catalyst.record(df.queryExecution)
        out
      }
    }

    // ---- setup: priming pass ------------------------------------------
    val primed = scala.collection.mutable.LinkedHashMap.empty[String, Digest]
    spans("setup.priming") {
      orders.head.foreach { q =>
        try {
          val (d, rows) = execute(q, collect = true)
          primed(q) = d
          excluded(dumpDir.foreach(dir => dump(spark, dir, q, rows.get)))
        } catch { case NonFatal(e) => fail(0, q, "error", e.toString) }
        excluded(purge(countLeaks = false))
      }
    }
    excluded(if (traced) org.apache.spark.perfbench.ListenerBus.drain(sc))
    val setupS = (System.nanoTime() - startNs - excludedNs) / 1e9
    // Catalyst and streaming counters cover the timed passes only
    catalyst.reset()
    streaming.reset()

    // ---- timed passes ---------------------------------------------------
    val times = orders.head.map(_ -> new java.util.ArrayList[Double]()).toMap
    orders.indices.drop(1).foreach { p =>
      spans("pass", p.toString) {
        orders(p).foreach { q =>
          val t0 = System.nanoTime()
          val digest = try Some(execute(q, collect = false)._1) catch {
            case NonFatal(e) => fail(p, q, "error", e.toString); None
          }
          val sec = (System.nanoTime() - t0) / 1e9
          times(q).add(sec)
          excluded {
            if (sec > limitS) fail(p, q, "timeout", f"$sec%.1f s > $limitS%.0f s")
            digest.foreach { d =>
              if (primed.get(q).exists(_ != d))
                fail(p, q, "digest", s"$d differs from priming ${primed(q)}")
            }
            purge(countLeaks = true)
          }
        }
      }
    }
    val passIds = spans.records.filter(_.name == "pass").map(_.id)
    // a pass's wall is the sum of its query clocks: verification and
    // purge are excluded
    val passWallS = (0 until orders.size - 1).map(i => times.values.map(_.get(i)).sum)
    excluded(if (traced) org.apache.spark.perfbench.ListenerBus.drain(sc))

    // ---- retained heap ----------------------------------------------------
    val heap = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    val retainedMb = heap.getHeapMemoryUsage.getUsed / 1048576.0

    val timedSpans = passIds.flatMap(spans.subtree).toSet
    val passes = orders.size - 1
    val layers: Map[String, Any] = if (!traced) Map.empty else {
      def span(name: String) = spans.records.filter(s => s.name == name && timedSpans(s.id))
      val w = scheduler.total(timedSpans)
      val (memoBuilds, memoS) = graft.ops.Corpus.suffixMemoStats
      val compile = CodegenMetrics.METRIC_COMPILATION_TIME
      val per = 1.0 / passes
      Map(
        "engine.session_s" -> sessionS,
        "setup.priming_s" -> spans.records.find(_.name == "setup.priming").get.seconds,
        "queries.build_s" -> span("query.build").map(_.seconds).sum * per,
        "queries.materialize_s" -> span("query.materialize").map(_.seconds).sum * per,
        "catalyst.analysis_s" -> catalyst.analysisS * per,
        "catalyst.optimization_s" -> catalyst.optimizationS * per,
        "catalyst.planning_s" -> catalyst.planningS * per,
        "catalyst.executions" -> catalyst.executions * per,
        "plan.exchanges" -> catalyst.shape.exchanges * per,
        "plan.smj" -> catalyst.shape.smj * per,
        "plan.bhj" -> catalyst.shape.bhj * per,
        "plan.windows" -> catalyst.shape.windows * per,
        "plan.rdd_scans" -> catalyst.shape.rddScans * per,
        "codegen.compiles" -> compile.getCount.toDouble,
        "codegen.compile_s" -> compile.getCount * compile.getSnapshot.getMean / 1e3,
        "scheduler.jobs" -> w.jobs * per,
        "scheduler.stages" -> w.stages * per,
        "scheduler.tasks" -> w.tasks * per,
        "executor.run_s" -> w.runMs / 1e3 * per,
        "executor.cpu_s" -> w.cpuNs / 1e9 * per,
        "executor.gc_s" -> w.gcMs / 1e3 * per,
        "scan.input_mb" -> w.inputBytes / 1048576.0 * per,
        "scan.input_rows" -> w.inputRows * per,
        "shuffle.write_mb" -> w.shuffleWriteBytes / 1048576.0 * per,
        "shuffle.read_mb" -> w.shuffleReadBytes / 1048576.0 * per,
        "shuffle.fetch_wait_s" -> w.fetchWaitMs / 1e3 * per,
        "storage.spill_mb" -> w.spillBytes / 1048576.0 * per,
        "storage.leaked_rdds" -> leakedRdds * per,
        "storage.leaked_mb" -> leakedBytes / 1048576.0 * per,
        "ops.suffix_memo.builds" -> memoBuilds.toDouble,
        "ops.suffix_memo.build_s" -> memoS,
        "streaming.batches" -> streaming.batches * per,
        "streaming.trigger_s" -> streaming.triggerMs / 1e3 * per,
        "streaming.add_batch_s" -> streaming.addBatchMs / 1e3 * per,
        "streaming.wal_s" -> streaming.walMs / 1e3 * per,
        "streaming.state_commit_s" -> streaming.stateCommitMs / 1e3 * per,
        "streaming.state_rows" -> streaming.stateRows * per,
        "trace.orphan_jobs" -> scheduler.orphanJobs.toDouble)
    }
    // traced runs: counts per timed pass, for their spread, and work per span name
    val perPass = if (!traced) Nil else passIds.map { id =>
      val w = scheduler.total(spans.subtree(id))
      Map("jobs" -> w.jobs, "stages" -> w.stages, "tasks" -> w.tasks).asJava
    }
    val workBySpan = if (!traced) Map.empty else spans.records.groupBy(_.name).map {
      case (n, ss) =>
        val w = scheduler.total(ss.map(_.id).toSet)
        n -> Map[String, Any]("jobs" -> w.jobs, "tasks" -> w.tasks,
          "run_s" -> w.runMs / 1e3, "cpu_s" -> w.cpuNs / 1e9).asJava
    }
    val result = Map[String, Any](
      "cores" -> cores,
      "passes" -> passes,
      "orders" -> orders.map(_.asJava).asJava,
      "setup_s" -> setupS,
      "pass_wall_s" -> passWallS.asJava,
      "retained_heap_mb" -> retainedMb,
      "times" -> times.map { case (q, t) => q -> t }.asJava,
      "digests" -> primed.map { case (q, d) => q -> d.toString }.asJava,
      "failures" -> failures,
      "layers" -> layers.asJava,
      "per_pass" -> perPass.asJava,
      "work_by_span" -> workBySpan.asJava,
      "spans" -> spans.records.map(s => Map[String, Any]("id" -> s.id,
        "name" -> s.name, "label" -> s.label, "parent" -> s.parent,
        "start_s" -> (s.startNs - startNs) / 1e9,
        "end_s" -> (s.endNs - startNs) / 1e9).asJava).asJava)
    dumpDir.foreach { dir =>
      val sql = graft.SparkEntry.oracleSql.filter { case (q, _) => primed.contains(q) }
      om.writeValue(Paths.get(dir, "oracle_sql.json").toFile, sql.asJava)
    }
    spark.stop()
    removeStreamCheckpoints()
    result.asJava
  }

  /** Write a priming result as parquet, for the oracle comparison. */
  private def dump(spark: SparkSession, dir: String, q: String,
      rows: (StructType, Array[UnsafeRow])): Unit = {
    val (schema, data) = rows
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    val external = data.toSeq.map(r => toRow(r).asInstanceOf[Row])
    spark.createDataFrame(external.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(Paths.get(dir, q).toString)
  }

  /** The streaming engine keeps its per-process checkpoints on tmpfs when
    * it can, else under java.io.tmpdir; remove this process's. */
  private def removeStreamCheckpoints(): Unit = {
    val name = s"graft-stream-ckpt-${ProcessHandle.current().pid()}"
    Seq(Paths.get("/dev/shm"), Paths.get(System.getProperty("java.io.tmpdir")))
      .map(_.resolve(name)).filter(Files.exists(_)).foreach(deleteTree)
  }

  private def deleteTree(p: Path): Unit = {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
      .foreach(Files.deleteIfExists(_))
    finally walk.close()
  }
}
