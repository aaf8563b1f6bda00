package perfbench

import java.nio.file.{Files, Path, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.SparkEntry
import graft.model.{PartitionId, TableRef, TableResult, TableStatus}
import graft.operators.Validate
import graft.orchestrate.Migrator
import graft.resume.Checkpoint
import graft.sources.Sources

/** The two workloads. Every call into graft goes through its public
  * API: `Sources`, `Migrator`, `Checkpoint`, `Validate`, `SparkEntry`.
  */
object Workloads {
  val Table = TableRef("bench", "lineitem")
  /** The CLI's `month:l_shipdate` partition spec. */
  val Month: (String, Column) = ("l_shipdate_month", date_format(col("l_shipdate"), "yyyy-MM"))
  val Flag: (String, Column) = ("l_returnflag", col("l_returnflag"))

  private def withKey(src: DataFrame, key: (String, Column)): DataFrame =
    src.withColumn(key._1, key._2.cast("string"))

  /** Per-partition (count, checksum) of the source, keyed like the destination. */
  private def sourceSums(src: DataFrame, key: (String, Column)) =
    Validate.checksumByPartition(withKey(src, key), Seq(key._1),
      src.columns.toSeq.filterNot(_ == key._1))

  /** The same over a published hive-layout destination, partition column
    * pinned to string as the migrator itself reads it.
    */
  private def destSums(ctx: Ctx, src: DataFrame, key: (String, Column), dest: String) = {
    val data = src.schema.fields.filterNot(_.name == key._1)
    val schema = StructType(data :+ StructField(key._1, StringType))
    Validate.checksumByPartition(
      ctx.spark.read.option("basePath", dest).schema(schema).parquet(dest),
      Seq(key._1), data.map(_.name).toSeq)
  }

  private def sameSums(a: Map[PartitionId, (Long, Long)], b: Map[PartitionId, (Long, Long)],
      what: String): Option[String] =
    if (Validate.checksumsMatch(a, b)) None
    else Some(s"$what: destination differs from source in partitions " +
      (a.keySet ++ b.keySet).filter(p => a.get(p) != b.get(p)).map(_.render).toSeq.sorted
        .take(5).mkString(", "))

  private def srcTable(ctx: Ctx, dir: String): DataFrame =
    ctx.trace.span("Sources.table", "sources")(Sources.table(ctx.spark, dir, "lineitem"))

  private def fresh(ctx: Ctx, name: String): Path = {
    val p = Paths.get(ctx.work(name))
    Main.deleteTree(p)
    p
  }

  /** Months of the sf0.1 lineitem that `migrate`'s month op reads. */
  val MigrateMonths: (String, String) = ("1996-01", "1996-04")

  /** `migrate`: Migrator.migrateTable into a fresh destination, one
    * partition in flight, no throttle. Each iteration runs two ops:
    *  - `month`: keyed by month over four months of the sf0.1 lineitem
    *    (4 partitions of about 7.4k rows), with the CLI's count gate;
    *  - `flag`: keyed by `l_returnflag` over the whole sf0.1 lineitem
    *    (3 partitions of about 200k rows), with the content-checksum gate
    *    (`checksumValidation`), so it writes and validates 600k rows.
    */
  def migrate(ctx: Ctx): Unit = {
    val full = ctx.args.data + "/sf0.1"
    val monthDir = ctx.work("months")
    var src, monthSrc: DataFrame = null
    def run(key: (String, Column), s: => DataFrame, name: String): TableResult = {
      val dest = fresh(ctx, name)
      val ckpt = Paths.get(ctx.work(name + ".ckpt.json"))
      Files.deleteIfExists(ckpt)
      ctx.trace.span("Migrator.migrateTable", "orchestrate") {
        new Migrator(ctx.spark, new Checkpoint(ckpt), lockDir = ctx.work("locks"),
          checksumValidation = key._1 == Flag._1)
          .migrateTable(Table, s, Seq(key._1), Seq(key._2), dest.toString)
      }
    }
    // Set-up: open the source, write the four-month subset the month op
    // reads, and warm the JVM with two migrations of each key. Op times
    // keep falling for the first minute or two of a JVM's life (the JIT
    // compiler is still compiling Spark's planner); after one warm-up
    // round the first timed ops still ran 20-30% slower than the median.
    ctx.setup {
      src = srcTable(ctx, full)
      src.filter(Month._2.between(MigrateMonths._1, MigrateMonths._2)).coalesce(1)
        .write.mode("overwrite").parquet(s"$monthDir/lineitem.parquet")
      monthSrc = srcTable(ctx, monthDir)
      for (_ <- 1 to 2) {
        run(Flag, src, "warm")
        run(Month, monthSrc, "warm")
      }
    }
    val inputs = Map(Month._1 -> (monthSrc, monthDir), Flag._1 -> (src, full))
    val expect = Seq(Month, Flag).map(k => k._1 -> sourceSums(inputs(k._1)._1, k)).toMap

    def migrateOp(kind: String, key: (String, Column)): Unit = {
      val (s, dir) = inputs(key._1)
      val sums = expect(key._1)
      val (parts, rows) = (sums.size, sums.values.map(_._1).sum)
      ctx.op(kind)(run(key, s, "dest")) { r =>
        if (r.status != TableStatus.Completed) Some(s"status ${r.status.name}: ${r.error.getOrElse("")}")
        else if (r.totalPartitions != parts) Some(s"${r.totalPartitions} partitions, expected $parts")
        else if (r.migratedRows != rows) Some(s"${r.migratedRows} rows, expected $rows")
        else sameSums(sums, destSums(ctx, s, key, ctx.work("dest")), kind)
      }
      val (bytes, files) = Main.dataFiles(Paths.get(ctx.work("dest")))
      ctx.note("dest_bytes" -> bytes.toDouble, "dest_files" -> files.toDouble,
        "partitions" -> parts.toDouble, "source_rows" -> rows.toDouble,
        "source_bytes" -> Main.dataFiles(Paths.get(dir, "lineitem.parquet"))._1.toDouble)
    }
    ctx.loop(Seq("month", "flag")) { _ =>
      migrateOp("month", Month)
      migrateOp("flag", Flag)
      if (ctx.args.injectFail)
        ctx.op("missing_source")(run(Flag, srcTable(ctx, ctx.work("no-such-source")), "dest"))(_ => None)
    }
  }

  /** The queries of `query_mix`: the iterative heavies, the round-20
    * suspects, the skew-prone windows, and one query of every module
    * those leave out, so all eleven query modules run.
    */
  val MixQueries: Seq[String] = Seq(
    "g_pagerank", "g_bfs", "q_recursive",
    "x_hist", "t_tfidf", "t_unigram_encode", "s_lang_centroid", "x_approx_distinct",
    "t_lm_score", "t_ngram_novelty",
    "m_delta_detect", "w_percentiles", "f_cube", "e_sessionize", "d_minhash",
    "a_neg_sampling")

  val Modules: Seq[(String, Set[String])] = {
    import graft.queries._
    Seq("MigrationQueries" -> MigrationQueries.defs, "RelationalQueries" -> RelationalQueries.defs,
      "WindowQueries" -> WindowQueries.defs, "FunctionQueries" -> FunctionQueries.defs,
      "EventQueries" -> EventQueries.defs, "TextQueries" -> TextQueries.defs,
      "DedupQueries" -> DedupQueries.defs, "SimilarityQueries" -> SimilarityQueries.defs,
      "AdvancedQueries" -> AdvancedQueries.defs, "GraphQueries" -> GraphQueries.defs,
      "SketchQueries" -> SketchQueries.defs).map { case (m, d) => m -> d.keySet }
  }
  def moduleOf(q: String): String = Modules.find(_._2.contains(q)).map(_._1).getOrElse("unknown")

  /** `query_mix`: one warm pass that also writes every result for the
    * content fingerprint check, then timed passes, each in a fresh seeded
    * order, one query per loop step, each run with the board's action.
    */
  def queryMix(ctx: Ctx): Unit = {
    val dir = ctx.args.data + "/sf0.001"
    val expected = new ObjectMapper().readTree(Paths.get(ctx.args.expected).toFile).get("queries")
    val results = fresh(ctx, "results")
    val warmErrors = new java.util.LinkedHashMap[String, Object]()
    ctx.setup {
      for (q <- ctx.rng.shuffle(MixQueries)) ctx.trace.span(q, "warm") {
        try SparkEntry.queries(q)(ctx.spark, dir).write.parquet(results.resolve(q).toString)
        catch { case e: Exception => warmErrors.put(q, e.toString) }
      }
    }
    ctx.extra.put("results_dir", results.toString)
    ctx.extra.put("warm_errors", warmErrors)
    val extraQ = if (ctx.args.injectFail) Seq("no_such_query") else Nil
    val order = Iterator.continually(ctx.rng.shuffle(MixQueries ++ extraQ)).flatten
    ctx.loop(MixQueries.map("query:" + _)) { _ =>
      val q = order.next()
      ctx.op("query:" + q) {
        val df = ctx.trace.span(q, "plan")(SparkEntry.queries(q)(ctx.spark, dir))
        df.queryExecution.toRdd.count()
      } { n =>
        val want = expected.get(q).get("rows").asLong()
        if (n == want) None else Some(s"$n rows, expected $want")
      }
    }
  }
}
