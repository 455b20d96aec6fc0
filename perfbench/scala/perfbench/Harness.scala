package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.security.MessageDigest
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.Success
import org.apache.spark.benchaccess.Internals
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener

import graft.OracleSql
import graft.OracleSqlExt
import graft.collocations.{Collocations, NGramCollocations}
import graft.dedup.Dedup
import graft.ops.Normalize
import graft.sources.NGramSource

/** Closed-loop benchmark harness: one client in one JVM sends one query at a
  * time to a `local[cores]` session and consumes every output row before
  * sending the next.
  *
  *   Harness --workload ngram-decade|text-collocations --data DIR --out FILE
  *           --seconds S --trace 0|1
  *
  * A run sets up [[Setups]] sessions in turn (each: start, one untimed
  * warm-up result; the last one stays open), then times results for S
  * seconds. Between results every cache is released and the harness
  * asserts that no persisted RDD survives. With `--trace 1` every second
  * timed result runs traced (a SparkListener and a QueryExecutionListener
  * attached), and per-layer probes then time each module's public
  * functions, consumed to a noop sink. Raw samples go to FILE as JSON;
  * spans go to FILE.spans.jsonl. Outputs to check go to FILE.check/: the
  * first result's rows as `result.parquet` with the oracle SQL that should
  * reproduce them as `result.sql`, and likewise for each checked probe.
  */
object Harness {

  /** Set-ups per run; `setup_s` is their median, so one disturbed set-up
    * never decides it. The first one runs on a cold JVM and is reported on
    * its own. Their warm-up results also let the JIT compile the planner
    * and codegen paths before timing starts. */
  val Setups = 3

  /** Fewest timed results per run: result times still fall a little after
    * the warm-ups, and the median of four is steadier than that of three. */
  val MinTimed = 4

  final case class Conf(workload: String, data: String, out: String, seconds: Double,
                        trace: Boolean) {
    /** `local[cores]` with one shuffle partition per core. */
    val cores: Int = Runtime.getRuntime.availableProcessors
  }

  def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Conf(m("workload"), m("data"), m("out"), m("seconds").toDouble, m("trace") == "1")
  }

  // ----------------------------------------------------------- workloads

  /** One workload: the query under test, its oracle, the per-layer probes
    * (name -> action consuming one layer's output), and the probes whose
    * output is checked as well (name -> (output, oracle SQL)). */
  trait Workload {
    def query(spark: SparkSession): DataFrame
    def oracleSql: String
    def probes(spark: SparkSession): Seq[(String, () => Unit)]
    def checkedProbes(spark: SparkSession): Seq[(String, (() => DataFrame, String))] = Nil
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  final class NGramDecade(dir: String) extends Workload {
    private val uniPaths = Seq(s"$dir/eng-1gram.tsv", s"$dir/heb-1gram.tsv")
    private val biPaths = Seq(s"$dir/eng-2gram.tsv", s"$dir/heb-2gram.tsv")
    def query(spark: SparkSession): DataFrame =
      NGramCollocations.fromPaths(spark, uniPaths, biPaths)
    def oracleSql: String = OracleSqlExt.ngramDecadeSql(NGramCollocations.K)
    def probes(spark: SparkSession): Seq[(String, () => Unit)] = {
      def uni = NGramSource.unigrams(NGramSource.read(spark, uniPaths: _*))
      def bi = NGramSource.bigrams(NGramSource.read(spark, biPaths: _*))
      Seq(
        "sources.read_s" -> (() => noop(NGramSource.read(spark, uniPaths ++ biPaths: _*))),
        "sources.parse_s" -> (() => { noop(uni); noop(bi) }),
        "ops.tokenize_s" -> (() => noop(NGramSource.read(spark, uniPaths ++ biPaths: _*)
          .select(Normalize.tokensCol(col("ngram")).as("toks")))),
        "collocations.unigram_counts_s" -> (() => noop(NGramCollocations.unigramCounts(uni))),
        "collocations.bigram_counts_s" -> (() => noop(NGramCollocations.bigramCounts(bi))))
    }
  }

  final class TextCollocations(dir: String) extends Workload {
    def query(spark: SparkSession): DataFrame =
      Collocations.topCollocations(Collocations.documents(spark, dir))
    def oracleSql: String = OracleSql.topCollocationsSql(Collocations.K)
    private def components(spark: SparkSession) =
      Dedup.lshComponents(Collocations.documents(spark, dir))
    override def checkedProbes(spark: SparkSession): Seq[(String, (() => DataFrame, String))] =
      Seq("dedup.components_s" -> ((() => components(spark), OracleSqlExt.componentsSql)))
    def probes(spark: SparkSession): Seq[(String, () => Unit)] = {
      def docs = Collocations.documents(spark, dir)
      Seq(
        "sources.read_s" -> (() => noop(docs)),
        "sources.parse_s" -> (() => { noop(Collocations.unigrams(docs)); noop(Collocations.bigramPairs(docs)) }),
        "ops.tokenize_s" -> (() => noop(Collocations.tokenized(docs))),
        "collocations.unigram_counts_s" -> (() => noop(Collocations.unigramCounts(docs))),
        "collocations.bigram_counts_s" -> (() => noop(Collocations.bigramCounts(docs))),
        "dedup.components_s" -> (() => noop(components(spark))))
    }
  }

  def workload(name: String, dir: String): Workload = name match {
    case "ngram-decade" => new NGramDecade(dir)
    case "text-collocations" => new TextCollocations(dir)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  // ------------------------------------------------------------- tracing

  /** Spark runtime counters for one span key. */
  final class Counters {
    var jobs, stages, tasks, taskFailures, sqlExecutions, broadcastJoins, shuffleJoins = 0L
    /** Join operators of the executed plans, each counted once; emptied by
      * [[countJoins]] so no plan (and its broadcasts) outlives the result. */
    val joins: java.util.Set[BaseJoinExec] =
      java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[BaseJoinExec, java.lang.Boolean])
    def countJoins(): Unit = {
      broadcastJoins = joins.asScala.count {
        case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec => true
        case _ => false
      }.toLong
      shuffleJoins = joins.size - broadcastJoins
      joins.clear()
    }
    var runMs, cpuNs, gcMs, inputBytes, shuffleWrite, shuffleRead, spill = 0L
    def fields: Map[String, Double] = Map(
      "jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
      "task_failures" -> taskFailures.toDouble, "executor_run_s" -> runMs / 1e3,
      "executor_cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1e3, "input_bytes" -> inputBytes.toDouble,
      "shuffle_write_bytes" -> shuffleWrite.toDouble, "shuffle_read_bytes" -> shuffleRead.toDouble,
      "spill_bytes" -> spill.toDouble)
  }

  val SpanKey = "perfbench.span"

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Counts jobs, stages and tasks per span key. Jobs carry the key as a
    * local property (inherited by AQE and broadcast threads); stages and
    * tasks are attributed through the job that submitted them. SQL
    * executions, and the join strategies of their final plans, arrive
    * through the QueryExecutionListener and are charged to the key that is
    * current when they are delivered, which is exact because the bus is
    * drained at every result boundary. */
  final class Recorder extends SparkListener with QueryExecutionListener
      with AdaptiveSparkPlanHelper {
    private val byKey = new ConcurrentHashMap[String, Counters]()
    private val stageKey = new ConcurrentHashMap[Int, String]()
    @volatile var current: String = "none"

    private def counters(key: String): Counters = byKey.computeIfAbsent(key, _ => new Counters)
    def take(key: String): Counters = {
      val c = Option(byKey.remove(key)).getOrElse(new Counters)
      c.synchronized(c.countJoins())
      c
    }
    /** Forgets every count not taken, and the plans they hold. */
    def reset(): Unit = { byKey.clear(); stageKey.clear(); current = "none" }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val key = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).getOrElse("none")
      e.stageIds.foreach(stageKey.put(_, key))
      val c = counters(key); c.synchronized { c.jobs += 1 }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val c = counters(stageKey.getOrDefault(e.stageInfo.stageId, "none"))
      c.synchronized { c.stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = counters(stageKey.getOrDefault(e.stageId, "none"))
      c.synchronized {
        c.tasks += 1
        if (e.reason != Success) c.taskFailures += 1
        val m = e.taskMetrics
        if (m != null) {
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.inputBytes += m.inputMetrics.bytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
    /** Joins of a final plan, including those of the cached tables it reads:
      * a table persisted and materialized during the result ran its joins
      * in the execution that first read it. */
    private def joinsIn(plan: SparkPlan): Seq[BaseJoinExec] =
      collect(plan) {
        case j: BaseJoinExec => Seq(j)
        case m: InMemoryTableScanExec => joinsIn(m.relation.cachedPlan)
      }.flatten

    private def execution(plan: Option[SparkPlan]): Unit = {
      val joins = plan.toSeq.flatMap(joinsIn)
      val c = counters(current)
      c.synchronized {
        c.sqlExecutions += 1
        joins.foreach(c.joins.add)
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      execution(Some(qe.executedPlan))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      execution(None)
  }

  /** In-memory spans (name, start, end, parent, run id), written at exit. */
  final class Spans(runId: String) {
    private val t0 = System.nanoTime()
    private val buf = ArrayBuffer.empty[String]
    private var next = 0
    def span[T](name: String, parent: Int)(body: Int => T): (T, Int, Double) = {
      next += 1
      val id = next
      val s = System.nanoTime()
      val r = body(id)
      val e = System.nanoTime()
      buf += json.writeValueAsString(Map("id" -> id, "name" -> name, "parent" -> parent,
        "run" -> runId, "start_s" -> (s - t0) / 1e9, "end_s" -> (e - t0) / 1e9))
      (r, id, (e - s) / 1e9)
    }
    def write(path: String): Unit = {
      val w = new PrintWriter(path, "UTF-8")
      try buf.foreach(w.println) finally w.close()
    }
  }

  // --------------------------------------------------------------- results

  final case class Result(constructS: Double, actionS: Double, ok: Boolean,
                          heapBytes: Long, cachedBytesLeft: Long,
                          construct: Counters, action: Counters, sql: Counters)

  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))

  /** Old-generation occupancy right after a full collection. */
  private def heapAfterGc(): Long = {
    System.gc()
    oldGen.map(_.getUsage.getUsed).getOrElse {
      val rt = Runtime.getRuntime; rt.totalMemory - rt.freeMemory
    }
  }

  private def digest(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  private def storedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Drops every cached table and persisted RDD the query left behind, then
    * collects garbage until Spark's cleaner has removed the broadcasts of the
    * finished plans (at most 2 s), so each result starts from the same heap. */
  private def release(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val t0 = System.nanoTime()
    var gcAt = t0
    System.gc()
    while (Internals.broadcastBlocks(sc) > 0 && System.nanoTime() - t0 < 2e9.toLong) {
      Thread.sleep(20)
      if (System.nanoTime() - gcAt > 3e8.toLong) { gcAt = System.nanoTime(); System.gc() }
    }
  }

  final class Runner(conf: Conf, wl: Workload, spans: Spans) {
    var recorder: Option[Recorder] = None
    var first: Option[(Array[Row], org.apache.spark.sql.types.StructType)] = None
    var reference: Option[String] = None
    var attempted, failed = 0

    def newSession(): SparkSession = {
      val tmp = new File(conf.out + ".tmp").getAbsolutePath
      val s = SparkSession.builder()
        .master(s"local[${conf.cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", conf.cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }

    /** One result: call the query (construction), consume every row
      * (action), check the digest, measure heap, release all caches. */
    def result(spark: SparkSession, label: String, parent: Int = 0): Option[Result] = {
      val sc = spark.sparkContext
      require(sc.getPersistentRDDs.isEmpty,
        s"persisted RDDs survived into $label: ${sc.getPersistentRDDs.keys.mkString(",")}")
      attempted += 1
      val key = s"r$attempted"
      recorder.foreach(_.current = key)
      try {
        val ((rows, schema, cS, aS), root, _) = spans.span(label, parent) { id =>
          sc.setLocalProperty(SpanKey, s"$key.construct")
          val (df, _, cS) = spans.span("construct", id)(_ => wl.query(spark))
          sc.setLocalProperty(SpanKey, s"$key.action")
          val (rows, _, aS) = spans.span("action", id)(_ => df.collect())
          sc.setLocalProperty(SpanKey, null)
          (rows, df.schema, cS, aS)
        }
        System.err.println(f"perfbench: $label%s construct $cS%.3f s, action $aS%.3f s, ${rows.length}%d rows")
        val d = digest(rows)
        if (first.isEmpty) { first = Some((rows, schema)); reference = Some(d) }
        val ok = reference.contains(d)
        if (!ok) failed += 1
        val (cons, act, sql) = recorder match {
          case Some(r) =>
            Internals.drainListeners(sc)
            (r.take(s"$key.construct"), r.take(s"$key.action"), r.take(key))
          case None => (new Counters, new Counters, new Counters)
        }
        val left = if (recorder.isDefined) storedBytes(spark) else 0L
        val heap = heapAfterGc()
        spans.span("release", root)(_ => release(spark))
        Some(Result(cS, aS, ok, heap, left, cons, act, sql))
      } catch {
        case NonFatal(e) =>
          System.err.println(s"$label failed: $e")
          e.printStackTrace()
          failed += 1
          sc.setLocalProperty(SpanKey, null)
          release(spark)
          None
      }
    }

    private val rec = new Recorder

    /** Runs `body` with the listeners attached. */
    def traced[T](spark: SparkSession)(body: => T): T = {
      spark.sparkContext.addSparkListener(rec)
      spark.listenerManager.register(rec)
      recorder = Some(rec)
      try body finally {
        rec.reset()
        recorder = None
        spark.listenerManager.unregister(rec)
        spark.sparkContext.removeSparkListener(rec)
      }
    }

    /** Results for `conf.seconds`, at least [[MinTimed]] untraced ones (three
      * of each kind when traced). With tracing, every second result runs
      * with the listeners attached, so traced and untraced results see the
      * same warm-up and the difference of their medians is the tracing
      * overhead. Returns (untraced, traced). */
    def timedLoop(spark: SparkSession): (Seq[Result], Seq[Result]) = {
      val plain, traced = ArrayBuffer.empty[Result]
      val deadline = System.nanoTime() + (conf.seconds * 1e9).toLong
      var i = 0
      while (i < (if (conf.trace) 6 else MinTimed) || System.nanoTime() < deadline) {
        i += 1
        if (conf.trace && i % 2 == 0) this.traced(spark)(result(spark, s"traced.$i")).foreach(traced += _)
        else result(spark, s"timed.$i").foreach(plain += _)
      }
      (plain.toSeq, traced.toSeq)
    }

    /** Each probe three times, traced: (name, seconds, jobs per run). */
    def probes(spark: SparkSession): Seq[(String, Seq[Double], Seq[Long])] = traced(spark) {
      val sc = spark.sparkContext
      wl.probes(spark).map { case (name, body) =>
        val runs = (1 to 3).map { k =>
          val key = s"$name.$k"
          rec.current = key
          sc.setLocalProperty(SpanKey, key)
          val (_, _, s) = spans.span(name, 0)(_ => body())
          sc.setLocalProperty(SpanKey, null)
          Internals.drainListeners(sc)
          val jobs = rec.take(key).jobs
          release(spark)
          (s, jobs)
        }
        (name, runs.map(_._1), runs.map(_._2))
      }
    }
  }

  private def writeCheck(dir: String, name: String, df: DataFrame, sql: String): Unit = {
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val w = new PrintWriter(s"$dir/$name.sql", "UTF-8")
    try w.print(sql) finally w.close()
  }

  def main(args: Array[String]): Unit = {
    val conf = parse(args)
    val wl = workload(conf.workload, conf.data)
    val spans = new Spans(s"${conf.workload}-${ProcessHandle.current().pid()}")
    val run = new Runner(conf, wl, spans)

    // A set-up is the session start plus its warm-up result's construction
    // and action; the heap reading and cache release after that result are
    // the harness's own work and stay outside.
    var spark: SparkSession = null
    val setupS = (1 to Setups).map { k =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val ((startS, warm), _, _) = spans.span(s"setup.$k", 0) { id =>
        val (_, _, startS) = spans.span("session", id)(_ => spark = run.newSession())
        (startS, run.result(spark, s"warmup.$k", id))
      }
      startS + warm.map(r => r.constructS + r.actionS).getOrElse(0.0)
    }

    val (timed, traced) = run.timedLoop(spark)
    val probes = if (conf.trace) run.probes(spark) else Nil

    // the oracle's inputs: outputs and the SQL that should reproduce them
    val checks = conf.out + ".check"
    run.first.foreach { case (rows, schema) =>
      writeCheck(checks, "result", spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema),
        wl.oracleSql)
    }
    if (conf.trace) wl.checkedProbes(spark).foreach { case (name, (output, sql)) =>
      writeCheck(checks, name, output(), sql)
      release(spark)
    }
    spans.write(conf.out + ".spans.jsonl")

    def results(rs: Seq[Result]) = rs.map { r =>
      Map("construct_s" -> r.constructS, "action_s" -> r.actionS, "ok" -> r.ok,
        "heap_bytes" -> r.heapBytes, "cached_bytes_left" -> r.cachedBytesLeft,
        "sql_executions" -> r.sql.sqlExecutions, "broadcast_joins" -> r.sql.broadcastJoins,
        "shuffle_joins" -> r.sql.shuffleJoins,
        "construct" -> r.construct.fields, "action" -> r.action.fields)
    }
    json.writeValue(new File(conf.out), Map(
      "workload" -> conf.workload, "cores" -> conf.cores, "setup_s" -> setupS,
      "attempted" -> run.attempted, "failed" -> run.failed,
      "digest" -> run.reference.getOrElse(""),
      "checked_probes" -> (if (conf.trace) wl.checkedProbes(spark).map(_._1) else Nil),
      "timed" -> results(timed), "traced" -> results(traced),
      "probes" -> probes.map { case (n, ts, jobs) => Map("name" -> n, "seconds" -> ts, "jobs" -> jobs) }))
    spark.stop()
  }
}
