package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.util.Properties

import scala.collection.mutable.{ArrayBuffer, HashMap => MMap}
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftSession
import graft.operators.JoinSearch
import graft.oracle.SearchOracle
import graft.sources.{Corpus, DfCache, IndexBuilder}
import graft.streaming.{DeltaLog, IndexStream}

/** Closed-loop driver of the engine's public search and ingest calls.
  *
  * One JVM, one `local[cores]` session, one client thread. It sets up
  * (index build into an empty `GRAFT_INDEX_DIR`, cache fill, key
  * statistics — [[SetupPasses]] times, then a warm-up), runs one
  * workload for at least a given number of seconds, and writes raw facts
  * as JSON: setup timings, one record per operation with its result
  * rows, the engine's oracle SQL for every query table, storage sizes,
  * and in a traced run the spans and scheduler counters. `run.py` checks
  * the answers and turns the facts into metrics.
  *
  * A workload runs in cycles: one pass over the query tables on
  * search_hot, [[CompactEvery]] ingest steps (ending in a compaction) on
  * ingest_search. Warm-up and timed windows are whole cycles, so every
  * window holds the same mix of operations.
  *
  * Usage: `JoinBench <config.properties>` (keys: see [[Conf]]).
  */
object JoinBench {

  /** Set-up passes per run; `run.py` reports their median. The first
    * pays the cold JVM (12–15 s against 4–5 s), which the median leaves
    * out.
    */
  val SetupPasses = 3
  /** Warm-up cycles before the timed window, by workload. search_hot's
    * first cycle fills the session cache; from its second cycle on, the
    * heap allocated per search repeats within 1 %. On ingest_search only
    * the first step of a run allocates more (about a third), so one cycle
    * suffices. Cycle means are in the run line.
    */
  val WarmCycles = Map("search_hot" -> 2, "ingest_search" -> 1)
  /** The timed window runs at least this many cycles; the end-to-end
    * footprint is read when they end, after a fixed amount of work.
    */
  val MeasureCycles = 2
  /** ingest_search compacts the deltas in place every this many batches. */
  val CompactEvery = 2

  final case class Query(path: String, cols: Seq[String])
  final case class Batch(path: String, planted: Int)

  final class Conf(p: Properties) {
    private def s(k: String) = Option(p.getProperty(k)).getOrElse(
      sys.error(s"config key missing: $k"))
    val workload: String = s("workload")
    val corpus: String = s("corpus")
    val indexDir: String = s("index_dir")
    val deltaDir: String = s("delta_dir")
    val out: String = s("out")
    val cores: Int = s("cores").toInt
    val seconds: Double = s("seconds").toDouble
    val traced: Boolean = s("trace") == "1"
    private def lines(k: String) =
      scala.io.Source.fromFile(s(k)).getLines().filter(_.nonEmpty).toVector
    val queries: Vector[Query] = lines("queries").map { l =>
      val Array(path, cols) = l.split("\t")
      Query(path, cols.split(",").toSeq)
    }
    val batches: Vector[Batch] = lines("batches").map { l =>
      val Array(path, planted) = l.split("\t")
      Batch(path, planted.toInt)
    }
  }

  // ---------------------------------------------------------------- JSON

  private def q(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  private def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => s"${q(k)}: ${js(v)}" }.mkString("{", ", ", "}")
  private def js(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => js(x)
    case s: String => q(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => s"${q(k.toString)}: ${js(x)}" }
      .mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(js).mkString("[", ", ", "]")
    case raw: Raw => raw.s
    case other => q(other.toString)
  }
  private final case class Raw(s: String)

  // --------------------------------------------------------------- trace

  /** In-memory spans, written out when the run ends. */
  private final class Spans {
    final case class Span(id: Int, parent: Int, req: Long, name: String,
        t0: Long, var t1: Long)
    val all = ArrayBuffer.empty[Span]
    private var stack = List.empty[Int]
    def apply[T](req: Long, name: String)(f: => T): T = {
      val sp = Span(all.size, stack.headOption.getOrElse(-1), req, name,
        System.nanoTime(), 0L)
      all += sp
      stack = sp.id :: stack
      try f finally { sp.t1 = System.nanoTime(); stack = stack.tail }
    }
    def json: Seq[Raw] = all.toSeq.map(s => Raw(obj("id" -> s.id,
      "parent" -> s.parent, "req" -> s.req, "name" -> s.name,
      "t0" -> s.t0, "t1" -> s.t1)))
  }

  /** Per-request scheduler counters, attributed by job group. */
  private final class Sched extends SparkListener {
    final class Acc { var jobs, stages, tasks, runMs, shuffleBytes,
      spillBytes = 0L }
    val byReq = new java.util.concurrent.ConcurrentHashMap[String, Acc]()
    private val stageReq = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    @volatile var events = 0L
    private def acc(r: String) = byReq.computeIfAbsent(r, _ => new Acc)
    private def group(p: Properties) =
      Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      events += 1
      group(e.properties).foreach { g =>
        acc(g).jobs += 1
        e.stageIds.foreach(stageReq.put(_, g))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      events += 1
      group(e.properties).orElse(Option(stageReq.get(e.stageInfo.stageId)))
        .foreach { g =>
          stageReq.put(e.stageInfo.stageId, g)
          acc(g).stages += 1
        }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      events += 1
      Option(stageReq.get(e.stageId)).foreach { g =>
        val a = acc(g)
        a.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          a.runMs += m.executorRunTime
          a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
          a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  // ------------------------------------------------------------- helpers

  private def now(): Long = System.nanoTime()
  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  private def timed[T](f: => T): (T, Double) = {
    val t0 = now(); val r = f; (r, secs(t0, now()))
  }

  private def du(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten.map(du).sum

  private def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rmrf)
    f.delete()
  }

  /** Seconds for a fixed single-threaded integer loop, best of three:
    * the host's speed next to the timed window, to attribute a slow run.
    */
  private def calibrate(): Double = (1 to 3).map { _ =>
    val t0 = now()
    var x = 1L
    var i = 0
    while (i < 20000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
    if (x == 42L) println(x) // keeps the loop live
    secs(t0, now())
  }.min

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threadBean = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** CPU nanoseconds of the whole process and of the calling thread. */
  private def cpuNanos(): (Long, Long) =
    (osBean.getProcessCpuTime, threadBean.getCurrentThreadCpuTime)

  /** Heap bytes allocated so far by each live Java thread. */
  private def allocByThread(): Map[Long, Long] = {
    val ids = threadBean.getAllThreadIds
    ids.zip(threadBean.getThreadAllocatedBytes(ids)).filter(_._2 >= 0).toMap
  }

  /** Bytes allocated between two [[allocByThread]] readings; a thread
    * started in between counts from zero.
    */
  private def allocated(before: Map[Long, Long], after: Map[Long, Long]): Long =
    after.iterator.map { case (id, b) => b - before.getOrElse(id, 0L) }.sum

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Persisted RDDs with resident blocks: id -> (memory, disk) bytes. */
  private def storage(spark: SparkSession): Map[Int, (Long, Long)] =
    spark.sparkContext.getRDDStorageInfo
      .map(i => i.id -> (i.memSize, i.diskSize)).toMap

  /** `(table_id, join_score)` rows in answer order, `t:s;t:s`. */
  private def rowsString(df: DataFrame): String =
    df.collect().map(r => s"${r.getInt(0)}:${r.getLong(1)}").mkString(";")

  // ----------------------------------------------------------------- main

  def main(args: Array[String]): Unit = {
    val props = new Properties()
    val in = new java.io.FileInputStream(args(0))
    try props.load(in) finally in.close()
    val c = new Conf(props)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val (spark, sessionS) = timed(GraftSession.local(c.cores, Map(
      "spark.local.dir" -> sys.env.getOrElse("SPARK_LOCAL_DIRS", "."),
      "spark.sql.warehouse.dir" -> new File("warehouse").getAbsolutePath)))
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val r = new Runner(spark, c)
    try r.run(sessionS, sessionReadyS)
    finally spark.stop()
  }

  private final class Runner(spark: SparkSession, c: Conf) {
    private val spans = new Spans
    private val sched = new Sched
    private val ops = ArrayBuffer.empty[Raw]
    private var reqId = 0L
    private var traceOn = false
    private val storageLog = ArrayBuffer.empty[(Long, Int, Int)] // req, fills, evictions
    private val extra = MMap.empty[String, Any]
    private def series[T](key: String): ArrayBuffer[T] =
      extra.getOrElseUpdate(key, ArrayBuffer.empty[T]).asInstanceOf[ArrayBuffer[T]]

    private def span[T](name: String)(f: => T): T =
      if (traceOn) spans(reqId, name)(f) else f

    /** One operation: timed, failure-captured, recorded. */
    private def op(kind: String, phase: String, fields: (String, Any)*)(
        f: => String): Option[String] = {
      reqId += 1
      val before = if (traceOn) storage(spark) else Map.empty[Int, (Long, Long)]
      if (traceOn) spark.sparkContext.setJobGroup(s"r$reqId", kind, false)
      val gc0 = gcMillis()
      val alloc0 = allocByThread()
      val clientAlloc0 = threadBean.getCurrentThreadAllocatedBytes
      val cpu0 = cpuNanos()
      val t0 = now()
      val res = try Right(span("request")(f)) catch {
        case e: Throwable => Left(s"${e.getClass.getName}: ${e.getMessage}")
      }
      val t1 = now()
      val cpu1 = cpuNanos()
      val clientAlloc1 = threadBean.getCurrentThreadAllocatedBytes
      val alloc1 = allocByThread()
      val gc1 = gcMillis()
      if (traceOn) {
        spark.sparkContext.clearJobGroup()
        val after = storage(spark)
        storageLog += ((reqId, (after.keySet -- before.keySet).size,
          (before.keySet -- after.keySet).size))
      }
      ops += Raw(obj((Seq("req" -> reqId, "kind" -> kind, "phase" -> phase,
        "t0" -> t0, "t1" -> t1, "gc_ms" -> (gc1 - gc0), "traced" -> traceOn,
        "cpu_ns" -> (cpu1._1 - cpu0._1), "client_cpu_ns" -> (cpu1._2 - cpu0._2),
        "alloc_bytes" -> allocated(alloc0, alloc1),
        "client_alloc_bytes" -> (clientAlloc1 - clientAlloc0),
        "ok" -> res.isRight, "rows" -> res.toOption, "error" -> res.left.toOption)
        ++ fields): _*))
      res.toOption
    }

    // ------------------------------------------------------------ setup

    private val indexRoot = new File(c.indexDir)
    private var prevIndex: Option[DataFrame] = None

    /** One set-up pass: build the index snapshot into the emptied
      * `GRAFT_INDEX_DIR`, fill the session cache, compute the key
      * statistic every search consumes.
      */
    private def setupPass(): Map[String, Double] = {
      prevIndex.foreach { old =>
        DfCache.invalidate(spark, s"idxstats:${old.semanticHash()}")
        DfCache.invalidate(spark, s"index:${c.corpus}")
      }
      rmrf(indexRoot); indexRoot.mkdirs()
      val (_, buildS) = timed(IndexBuilder.loadOrSnapshot(spark, c.corpus))
      val (index, fillS) = timed {
        val i = IndexBuilder.cached(spark, c.corpus); i.count(); i
      }
      prevIndex = Some(index)
      val (_, statsS) = timed(JoinSearch.indexKeyStats(index).count())
      Map("build_s" -> buildS, "cache_fill_s" -> fillS, "keystats_s" -> statsS)
    }

    /** Index bytes on disk (base plus live deltas) and session-cache
      * bytes in memory and on disk.
      */
    private def footprint(): Map[String, Long] = {
      val parts = if (c.workload == "ingest_search")
        DeltaLog.liveParts(spark, c.deltaDir, "") else Nil
      val st = storage(spark)
      Map("index_bytes" -> (du(indexRoot) + parts.map(p => du(new File(p))).sum),
        "cache_mem_bytes" -> st.values.map(_._1).sum,
        "cache_disk_bytes" -> st.values.map(_._2).sum)
    }

    def run(sessionS: Double, sessionReadyS: Double): Unit = {
      val passes = (1 to SetupPasses).map(_ => setupPass())
      val indexBytes0 = du(indexRoot)
      val (step, cycle) = c.workload match {
        case "search_hot" => (searchStep(), c.queries.size)
        case "ingest_search" => (ingestStep(), CompactEvery)
        case w => sys.error(s"unknown workload $w")
      }
      warmUp(step, cycle)
      extra("calibration_s") = calibrate()
      val measured = if (c.traced) {
        val m = window("timed", c.seconds / 2, step, cycle)
        spark.sparkContext.addSparkListener(sched)
        traceOn = true
        window("traced", c.seconds / 2, step, cycle)
        traceOn = false
        drainListener()
        m
      } else window("timed", c.seconds, step, cycle)
      val end = footprint()
      val corpusBytes = Corpus.tables.map(t =>
        du(new File(s"${c.corpus}/${t.name}.parquet"))).sum
      val oracle = c.queries.zipWithIndex.map { case (qq, i) =>
        i.toString -> SearchOracle.tableScoresOver(
          "idxf AS (SELECT * FROM bench_idxf)",
          SearchOracle.QuerySpec(
            s"SELECT ${qq.cols.map(x => "\"" + x + "\"").mkString(", ")} " +
              s"FROM read_parquet('${qq.path.replace("'", "''")}')", qq.cols))
      }.toMap
      val schedJs = sched.byReq.asScala.map { case (k, a) =>
        k -> Raw(obj("jobs" -> a.jobs, "stages" -> a.stages, "tasks" -> a.tasks,
          "run_ms" -> a.runMs, "shuffle_bytes" -> a.shuffleBytes,
          "spill_bytes" -> a.spillBytes))
      }.toMap
      val out = obj(
        "workload" -> c.workload,
        "session_s" -> sessionS,
        "session_ready_s" -> sessionReadyS,
        "setup_passes" -> passes.map(m => Raw(js(m))),
        "index_bytes_after_setup" -> indexBytes0,
        "corpus_bytes" -> corpusBytes,
        "footprint_measured" -> measured,
        "footprint_end" -> end,
        "storage_log" -> storageLog.map { case (r, f, e) => Raw(s"[$r, $f, $e]") },
        "extra" -> Raw(js(extra.toMap)),
        "oracle_index_sql" -> SearchOracle.indexOnly(
          "SELECT key, table_id, column_id, row_id FROM idxf"),
        "oracle" -> oracle,
        "ops" -> ops.toSeq,
        "sched" -> schedJs,
        "spans" -> spans.json)
      val w = new PrintWriter(c.out, "UTF-8")
      try w.write(out) finally w.close()
    }

    private def drainListener(): Unit = {
      var last = -1L
      while (sched.events != last) { last = sched.events; Thread.sleep(300) }
    }

    // ------------------------------------------------------- workloads

    /** [[WarmCycles]] cycles of `cycle` steps; the cycle means are
      * recorded so an unsettled warm-up shows.
      */
    private def warmUp(step: String => Unit, cycle: Int): Unit = {
      val t0 = now()
      val means = (1 to WarmCycles(c.workload)).map { _ =>
        val c0 = now()
        (1 to cycle).foreach(_ => step("warmup"))
        secs(c0, now()) / cycle
      }
      extra("warmup_s") = secs(t0, now())
      extra("warmup_chunk_means") = means
      extra("warmup_ops") = ops.size
    }

    /** Whole cycles of `cycle` steps until `seconds` have passed, and at
      * least [[MeasureCycles]] of them. Returns the footprint read when
      * those end.
      */
    private def window(phase: String, seconds: Double, step: String => Unit,
        cycle: Int): Map[String, Long] = {
      val t0 = now()
      val gc0 = gcMillis()
      var n = 0
      var measured = Map.empty[String, Long]
      while (secs(t0, now()) < seconds || n % cycle != 0 || n < MeasureCycles * cycle) {
        step(phase); n += 1
        if (n == MeasureCycles * cycle) measured = footprint()
      }
      val t1 = now()
      extra(s"window_$phase") = Map("t0" -> t0, "t1" -> t1, "steps" -> n,
        "gc_ms" -> (gcMillis() - gc0))
      measured
    }

    /** `searchTables(index, query, cols)` forced with a collect. Traced,
      * the pipeline's public stages run first, each forced with an action
      * in its own span: import (`prepareInput` + `mappings`), probe,
      * conjunction; then the search itself, split into planning (building
      * the frame, with its cache lookups, to `executedPlan`) and scoring
      * (the collect).
      */
    private def searchOnce(index: DataFrame, query: DataFrame, cols: Seq[String]): String =
      if (!traceOn) rowsString(JoinSearch.searchTables(index, query, cols))
      else {
        val m = span("search.import") {
          val m = JoinSearch.mappings(JoinSearch.prepareInput(query, cols), cols)
          m.count(); m
        }
        val probed = JoinSearch.probe(index, m)
        val postings = span("search.probe")(probed.count())
        span("search.conjunction")(JoinSearch.conjunctionAnchored(probed, m,
          cols.size, Some(JoinSearch.indexKeyStats(index))).count())
        val df = span("search.plan") {
          val df = JoinSearch.searchTables(index, query, cols)
          df.queryExecution.executedPlan
          df
        }
        val rows = span("search.score")(rowsString(df))
        series[Raw]("postings") += Raw(s"[$reqId, $postings]")
        rows
      }

    /** search_hot cycles through its query tables. */
    private def searchStep(): String => Unit = {
      var next = 0
      phase => {
        val i = next % c.queries.size
        next += 1
        val qq = c.queries(i)
        op("search", phase, "q" -> i) {
          searchOnce(IndexBuilder.cached(spark, c.corpus),
            spark.read.parquet(qq.path), qq.cols)
        }
      }
    }

    /** ingest_search: land a batch, commit it, compact every
      * [[CompactEvery]] batches, then search the live index, which must
      * include the batch. The query is the one pre-generated table.
      */
    private def ingestStep(): String => Unit = {
      val qq = c.queries.last
      val customer = Corpus.byName("customer")
      var b = 0
      phase => {
        require(b < c.batches.size, "ran out of pre-generated batches")
        val batch = c.batches(b)
        val part = s"batch=$b"
        val arrive = now()
        val landed = op("ingest", phase, "batch" -> b, "planted" -> batch.planted) {
          span("ingest.write") {
            IndexBuilder.writeSnapshotAs(
              IndexStream.postings(spark.read.parquet(batch.path), customer),
              s"${c.deltaDir}/$part")
          }
          series[Long]("ingest_bytes") += du(new File(s"${c.deltaDir}/$part"))
          span("ingest.commit")(DeltaLog.commit(spark, c.deltaDir, part))
          if ((b + 1) % CompactEvery == 0) span("ingest.compact") {
            val before = DeltaLog.liveParts(spark, c.deltaDir, "compacted=").toSet
            val (_, t) = timed(IndexStream.compactDeltasInPlace(spark, c.deltaDir))
            series[Double]("compact_s") += t
            series[Long]("compact_bytes") += DeltaLog.liveParts(spark, c.deltaDir,
              "compacted=").filterNot(before).map(p => du(new File(p))).sum
          }
          ""
        }.isDefined
        b += 1
        op("search", phase, "q" -> (c.queries.size - 1), "batch" -> (b - 1),
            "arrive" -> arrive, "landed" -> landed) {
          val live = span("ingest.live_load")(
            IndexStream.loadWithDeltas(spark, c.corpus, c.deltaDir))
          if (traceOn) series[Int]("live_parts") +=
            DeltaLog.liveParts(spark, c.deltaDir, "").size
          searchOnce(live, spark.read.parquet(qq.path), qq.cols)
        }
      }
    }
  }
}
