package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.model.PartitionId
import graft.orchestrate.TableLock
import graft.resume.Checkpoint

/** Per-layer metrics of a traced run, and the trace artifact.
  *
  * Layer metrics are given per iteration: for each op kind the mean over
  * its traced ops, summed over kinds (one `month` plus one `flag` op on
  * migrate, one pass on query_mix). Ratios divide two such sums. Metrics
  * of layers a workload does not use are 0.
  */
object Layers {
  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private def busy(js: Seq[JobRec]): Double = js.map(j => (j.endNs - j.startNs) / 1e9).sum

  def report(ctx: Ctx): Unit = {
    val t = ctx.trace
    val out = ctx.perLayer
    val traced = ctx.ops.filter(_.traced).toSeq
    val isQuery = ctx.args.workload == "query_mix"
    def queryLayer(o: Op) = "queries." + Workloads.moduleOf(o.kind.stripPrefix("query:"))
    val layerOf: (Op, JobRec) => String =
      if (isQuery) (o, _) => queryLayer(o)
      else (_, j) => Trace.layerOfSite(t.siteOf(j), t.counts(Seq(j)).outputBytes > 0)

    // Per iteration: the mean over each kind's traced ops, summed over kinds.
    def perUnit(f: Seq[Op] => Double): Double =
      traced.groupBy(_.kind).values.map(os => mean(os.map(o => f(Seq(o))))).sum
    def jobsOf(u: Seq[Op]): Seq[(Op, JobRec)] = u.flatMap(o => t.jobsIn(o.span).map(o -> _))
    def layerJobs(u: Seq[Op], layer: String): Seq[JobRec] =
      jobsOf(u).collect { case (o, j) if layerOf(o, j) == layer => j }

    def note(u: Seq[Op], k: String): Double = u.map(_.notes.getOrElse(k, 0.0)).sum
    def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
    val srcRows = perUnit(note(_, "source_rows"))

    val writes = (u: Seq[Op]) => layerJobs(u, "copy.write")
    out("copy.write_busy_s") = perUnit(u => busy(writes(u)))
    out("copy.write_jobs") = perUnit(u => writes(u).size.toDouble)
    out("copy.count_busy_s") = perUnit(u => busy(layerJobs(u, "copy.count")))
    out("copy.input_bytes") = perUnit(u => t.counts(writes(u)).inputBytes.toDouble)
    out("copy.output_bytes") = perUnit(u => t.counts(writes(u)).outputBytes.toDouble)
    out("copy.output_files") = perUnit(u => note(u, "dest_files"))
    out("copy.scan_amplification") =
      ratio(perUnit(u => t.counts(writes(u)).inputRows.toDouble), srcRows)
    out("copy.dest_bytes_per_src_byte") =
      ratio(perUnit(note(_, "dest_bytes")), perUnit(note(_, "source_bytes")))
    out("partitions.busy_s") = perUnit(u => busy(layerJobs(u, "partitions")))
    out("partitions.jobs") = perUnit(u => layerJobs(u, "partitions").size.toDouble)

    // Checkpoint cost, timed directly: one markPartition per month of
    // lineitem (83, 1995-01 to 2001-11) on a fresh file.
    val (markS, markBytes) = {
      val p = Paths.get(ctx.work("mark.ckpt.json"))
      Files.deleteIfExists(p)
      val ck = new Checkpoint(p)
      ck.initTable("bench", "lineitem")
      val samples = (0 until 83).map { i =>
        val part = PartitionId(Seq(f"${1995 + i / 12}-${i % 12 + 1}%02d"))
        val t0 = System.nanoTime()
        t.span("Checkpoint.markPartition", "resume")(ck.markPartition("bench", "lineitem", part))
        ((System.nanoTime() - t0) / 1e9, Files.size(p).toDouble)
      }
      (median(samples.map(_._1)), mean(samples.map(_._2)))
    }
    out("resume.mark_partition_s") = markS
    out("resume.bytes_per_mark") = markBytes

    val selfS = (u: Seq[Op]) => u.map(o => t.attribute(o.span, j => layerOf(o, j))._2).sum
    out("orchestrate.driver_self_s") = if (isQuery) 0.0 else perUnit(selfS)
    out("orchestrate.jobs_per_partition") =
      if (isQuery) 0.0 else ratio(perUnit(jobsOf(_).size.toDouble), perUnit(note(_, "partitions")))
    out("orchestrate.lock_s") = median((0 until 20).map { _ =>
      val lock = new TableLock(ctx.work("locks"), "bench", "lock_probe", 60.0)
      val t0 = System.nanoTime()
      t.span("TableLock", "orchestrate") { lock.acquire(); lock.release() }
      (System.nanoTime() - t0) / 1e9
    })

    val validate = (u: Seq[Op]) => layerJobs(u, "validate")
    out("validate.busy_s") = perUnit(u => busy(validate(u)))
    out("validate.input_bytes") = perUnit(u => t.counts(validate(u)).inputBytes.toDouble)
    out("validate.scan_rows_per_src_row") =
      ratio(perUnit(u => t.counts(validate(u)).inputRows.toDouble), srcRows)

    out("jvm.peak_rss_mb") = Main.peakRssMb
    out("sources.table_s") = median(t.spans.filter(_.name == "Sources.table").map(_.seconds).toSeq)

    for (q <- Workloads.MixQueries)
      out(s"query.$q.s") = median(traced.filter(_.kind == "query:" + q).map(_.span.seconds))
    for ((m, _) <- Workloads.Modules) {
      val layer = "queries." + m
      out(s"$layer.busy_s") = if (isQuery) perUnit(u => busy(layerJobs(u, layer))) else 0.0
      out(s"$layer.planning_s") = if (!isQuery) 0.0 else perUnit(u => u.filter(queryLayer(_) == layer).map { o =>
        val first = t.jobsIn(o.span).map(_.startNs).minOption.getOrElse(o.span.endNs)
        (first - o.span.startNs) / 1e9
      }.sum)
      out(s"$layer.shuffle_bytes") =
        if (isQuery) perUnit(u => t.counts(layerJobs(u, layer)).shuffleWriteBytes.toDouble) else 0.0
      out(s"$layer.spill_bytes") =
        if (isQuery) perUnit(u => t.counts(layerJobs(u, layer)).spillBytes.toDouble) else 0.0
    }

    val all = (u: Seq[Op]) => t.counts(jobsOf(u).map(_._2))
    out("spark.jobs") = perUnit(u => jobsOf(u).size.toDouble)
    out("spark.stages") = perUnit(u => jobsOf(u).flatMap(_._2.stageIds).distinct.count(t.stages.contains).toDouble)
    out("spark.tasks") = perUnit(u => all(u).tasks.toDouble)
    out("spark.task_run_s") = perUnit(u => all(u).runMs / 1e3)
    out("spark.gc_s") = perUnit(u => all(u).gcMs / 1e3)
    out("spark.input_bytes") = perUnit(u => all(u).inputBytes.toDouble)
    out("spark.shuffle_write_bytes") = perUnit(u => all(u).shuffleWriteBytes.toDouble)
    out("spark.spill_bytes") = perUnit(u => all(u).spillBytes.toDouble)

    ctx.extra.put("trace", artifact(ctx, layerOf))
  }

  private def jmap(kv: (String, Any)*): java.util.Map[String, Object] = {
    val m = new java.util.LinkedHashMap[String, Object]()
    kv.foreach { case (k, v) => m.put(k, v.asInstanceOf[AnyRef]) }
    m
  }

  /** Spans, jobs, the attribution rules, each op's wall time split into
    * layers plus driver self time, and the measured tracing overhead.
    */
  private def artifact(ctx: Ctx, layerOf: (Op, JobRec) => String): java.util.Map[String, Object] = {
    val t = ctx.trace
    val pairs = ctx.ops.toSeq.groupBy(_.kind).toSeq.sortBy(_._1).map { case (kind, ops) =>
      val Seq(off, on) = Seq(false, true).map(tr => median(ops.filter(_.traced == tr).map(_.span.seconds)))
      (kind, off, on)
    }
    def share(off: Double, on: Double) = Double.box(if (off > 0) on / off - 1 else 0.0)
    val overhead = pairs.map { case (kind, off, on) =>
      kind -> jmap("untraced_median_s" -> Double.box(off), "traced_median_s" -> Double.box(on),
        "overhead_share" -> share(off, on))
    } :+ ("all_kinds" -> jmap("overhead_share" -> share(pairs.map(_._2).sum, pairs.map(_._3).sum)))
    val opAttribution = ctx.ops.filter(_.traced).map { o =>
      val (layers, self) = t.attribute(o.span, j => layerOf(o, j))
      jmap("kind" -> o.kind, "step" -> Int.box(o.step), "wall_s" -> Double.box(o.span.seconds),
        "layers_s" -> layers.map { case (k, v) => k -> Double.box(v) }.asJava,
        "driver_self_s" -> Double.box(self),
        "jobs" -> Int.box(t.jobsIn(o.span).size))
    }
    jmap(
      "attribution_rules" -> jmap(
        "call_site" -> ("a job belongs to the graft module named by the source file in its " +
          "result stage's call site, e.g. 'parquet at CopyService.scala:76' -> copy; within " +
          "CopyService, jobs that write output bytes are copy.write and the rest copy.count"),
        "execution_id" -> ("jobs that adaptive execution submits carry a " +
          "'CompletableFuture.java' call site; they are mapped through their " +
          "spark.sql.execution.id to the SQL execution's description, which is the " +
          "call site of the action that started it"),
        "query_mix" -> "every job inside a query op belongs to that query's module",
        "self_time" -> ("a span's driver self time is its duration minus the union of " +
          "the intervals of the jobs that start inside it")),
      "tracing_overhead" -> overhead.toMap.asJava,
      "op_attribution" -> opAttribution.asJava,
      "spans" -> t.spans.map(s => jmap("name" -> s.name, "layer" -> s.layer,
        "start_ns" -> Long.box(s.startNs), "end_ns" -> Long.box(s.endNs))).asJava,
      "jobs" -> t.jobs.sortBy(_.id).map { j =>
        val c = t.counts(Seq(j))
        jmap("id" -> Int.box(j.id), "site" -> j.site, "resolved_site" -> t.siteOf(j),
          "execution_id" -> Long.box(j.execId),
          "start_ns" -> Long.box(j.startNs), "end_ns" -> Long.box(j.endNs),
          "stages" -> j.stageIds.map(Int.box).asJava, "tasks" -> Long.box(c.tasks),
          "input_bytes" -> Long.box(c.inputBytes), "input_rows" -> Long.box(c.inputRows),
          "output_bytes" -> Long.box(c.outputBytes),
          "shuffle_write_bytes" -> Long.box(c.shuffleWriteBytes))
      }.asJava)
  }
}
