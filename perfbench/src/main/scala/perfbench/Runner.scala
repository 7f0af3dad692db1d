package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One operation of a workload: a sync or a query. `run` does the
  * timed work; the workload's check, after the timed rounds, sets
  * `wrong` when its output was not right.
  */
final class Op(val name: String, val run: Runner => Unit) {
  var seconds: Double = -1
  var error: Option[Throwable] = None
  var wrong: Option[String] = None
  def failed: Boolean = error.isDefined || wrong.isDefined
}

/** Drives rounds of ops, times them, and in a traced run attributes
  * each op's Spark work to the layer calls inside it.
  */
final class Runner(val spark: SparkSession, val traced: Boolean) {
  val tracer = new Tracer(traced)
  val trace: Option[SparkTrace] =
    if (traced) Some(new SparkTrace(spark)) else None
  trace.foreach(_.start())
  private val sc = spark.sparkContext

  /** Per-round sums of per-layer metrics (traced runs only). */
  val layer = mutable.LinkedHashMap.empty[String, Double]
  def add(k: String, v: Double): Unit = layer(k) = layer.getOrElse(k, 0.0) + v

  /** Counters a workload reads around an op: it sets them to what its
    * inputs or its server saw, for the `sources.*` layer.
    */
  var opSource: Map[String, Double] = Map.empty

  /** A call into one layer: a span, and the local property that ties
    * the Spark jobs it starts to that span.
    */
  def call[T](name: String)(body: => T): T = {
    val prev = sc.getLocalProperty(Runner.SpanProp)
    tracer(name) { s =>
      if (traced) sc.setLocalProperty(Runner.SpanProp, s.id.toString)
      try body
      finally if (traced) sc.setLocalProperty(Runner.SpanProp, prev)
    }
  }

  /** Run one op, timed. Failures are recorded, not thrown. */
  def runOp(op: Op): Double = {
    opSource = Map.empty
    val span = tracer.open(op.name)
    val t0 = System.nanoTime()
    try op.run(this)
    catch {
      case e: Throwable =>
        op.error = Some(e)
        System.err.println(s"[perfbench] op ${op.name} failed: $e")
    }
    op.seconds = (System.nanoTime() - t0) / 1e9
    tracer.close(span)
    if (traced) account(span)
    op.seconds
  }

  /** Attribute an op's Spark jobs, stages, plans and stream progress to
    * the layers its calls belong to, adding into [[layer]].
    */
  private def account(op: Span): Unit = {
    val t = trace.get
    val (qes, progress) = t.drain()
    val calls = tracer.children(op)
    def ids(names: String*): Set[Int] =
      calls.filter(c => names.contains(c.name)).map(_.id).toSet
    val allJobs = t.jobsOf(calls.map(_.id).toSet + op.id)
    val allStages = t.stagesOf(allJobs)
    def sumDur(ss: Seq[StageRec]): Double = ss.map(_.durUs).sum / 1e6
    val isSync = calls.exists(_.name == "sink.write")
    val buildNames = Seq("queries.build", "sources.load", "incremental.conform")
    val execNames = Seq("exec.count", "sink.write")

    // build: the call that returns the frame
    val buildJobs = allJobs.filter(j => ids(buildNames: _*)(j.span))
    val buildStages = t.stagesOf(buildJobs)
    add("queries.build_s", calls.filter(c => buildNames.contains(c.name))
      .map(_.durUs).sum / 1e6)
    add("queries.build_jobs", buildJobs.size)
    add("queries.build_stages", buildStages.size)
    add("queries.build_tasks", buildStages.map(_.tasks).sum)
    add("queries.build_stage_s", sumDur(buildStages))

    // exec: the call that runs the final plan (count, or the sink write)
    val execJobs = allJobs.filter(j => ids(execNames: _*)(j.span))
    val execStages = t.stagesOf(execJobs)
    add("exec.s", calls.filter(c => execNames.contains(c.name)).map(_.durUs).sum / 1e6)
    add("exec.jobs", execJobs.size)
    add("exec.stage_s", sumDur(execStages))
    add("exec.tasks", execStages.map(_.tasks).sum)
    add("exec.shuffle_read_bytes", execStages.map(_.shuffleReadBytes).sum)
    add("exec.shuffle_write_bytes", execStages.map(_.shuffleWriteBytes).sum)
    add("exec.spill_bytes", execStages.map(_.spillBytes).sum)
    execStages.filter(_.taskMs.size >= 2).maxByOption(_.durUs).foreach { s =>
      val med = Stats.median(s.taskMs.map(_.toDouble).toSeq) max 1.0
      skews += s.taskMs.max / med
    }
    add("exec.driver_gap_s", (op.durUs -
      Spans.unionUs(allStages.map(s => (s.submitUs, s.endUs)), op.startUs, op.endUs)) / 1e6)

    // tables: footer schema inference, a parquet read outside any SQL
    // execution
    val infer = allJobs.filter(j => !j.sqlExecution && j.callSite.startsWith("parquet at"))
    add("tables.infer_jobs", infer.size)
    add("tables.infer_s", infer.map(j => (j.endUs - j.startUs) max 0L).sum / 1e6)

    // plans: Catalyst phases of the final plan
    val writes = qes.filter(SparkTrace.writes)
    val phases = finalPhases.getOrElse(
      writes.lastOption.map(q => SparkTrace.phasesMs(q.qe)).getOrElse(Map.empty))
    add("plans.analysis_ms", phases.getOrElse("analysis", 0.0))
    add("plans.optimization_ms", phases.getOrElse("optimization", 0.0))
    add("plans.planning_ms", phases.getOrElse("planning", 0.0))
    finalPhases = None

    if (isSync) {
      val sinkStages = t.stagesOf(allJobs.filter(j => ids("sink.write")(j.span)))
      // the scan side of the dedup shuffle reads no shuffle; the write
      // side does
      val (scan, write) = sinkStages.partition(_.shuffleReadBytes == 0)
      val seen = java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
      val nodes = qes.flatMap(q => SparkTrace.nodes(q.qe.executedPlan)).filter(seen.add(_))
      def metric(pred: String => Boolean, key: String): Double =
        nodes.filter(n => pred(n.nodeName)).flatMap(_.metrics.get(key))
          .map(_.value.toDouble).sum
      val writeNode = (n: String) => n.contains("Execute") || n.contains("Write")
      add("sources.scan_stage_s", sumDur(scan))
      add("sources.partitions", scan.map(_.tasks).sum)
      opSource.foreach { case (k, v) => add(k, v) }
      add("incremental.rows_in", metric(_.contains("BatchScan"), "numOutputRows"))
      add("incremental.rows_out", metric(writeNode, "numOutputRows"))
      add("incremental.shuffle_write_bytes", scan.map(_.shuffleWriteBytes).sum)
      add("incremental.stage_s", scan.map(_.shuffleWriteNs).sum / 1e9 +
        metric(_.startsWith("Sort"), "sortTime") / 1e3)
      add("incremental.spill_bytes", sinkStages.map(_.spillBytes).sum)
      add("sink.write_stage_s", sumDur(write))
      val writeSpan = calls.filter(_.name == "sink.write")
      val cmdUs = writes.filter(_.durationNs > 0).map(_.durationNs / 1000L).maxOption
        .getOrElse(writeSpan.map(_.durUs).sum)
      add("sink.commit_s", (cmdUs - Spans.unionUs(sinkStages.map(s => (s.submitUs, s.endUs)))) / 1e6 max 0.0)
      add("sink.files", metric(writeNode, "numFiles"))
      add("sink.bytes", metric(writeNode, "numOutputBytes"))
      add("sink.partitions", metric(writeNode, "numParts"))
      add("sink.rows", metric(writeNode, "numOutputRows"))
    }

    // streaming micro-batches started by this op
    add("streaming.batches", progress.size)
    add("streaming.batch_s", progress.map(_.batchDuration).sum / 1e3)
    def dur(k: String) = progress.map(p => SparkTrace.progressDurations(p).getOrElse(k, 0.0)).sum
    add("streaming.add_batch_ms", dur("addBatch"))
    add("streaming.wal_commit_ms", dur("walCommit"))
    add("streaming.commit_offsets_ms", dur("commitOffsets"))
    add("streaming.query_planning_ms", dur("queryPlanning"))
    val lastPerQuery = progress.groupBy(_.runId).values.map(_.maxBy(_.batchId))
    add("streaming.state_rows", lastPerQuery.flatMap(_.stateOperators).map(_.numRowsTotal).sum)
    add("streaming.state_commit_ms", progress.flatMap(_.stateOperators).map(_.commitTimeMs).sum)

    t.forget(allJobs)
  }

  /** Catalyst phases of an op's final plan, when the op has the frame
    * in hand (the query ops); sync ops take them from the write.
    */
  var finalPhases: Option[Map[String, Double]] = None
  val skews = mutable.ArrayBuffer.empty[Double]

  // ---- storage and JVM probes ------------------------------------------

  def pinnedRdds: Int = sc.getPersistentRDDs.size

  def storedBytes: Long =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime max 0L).sum
  }

  def stop(): Unit = trace.foreach(_.stop())
}

object Runner {
  /** Local property naming the span whose call started a Spark job. */
  val SpanProp = "perfbench.span"
}
