package perfbench

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.engine.{JobRunner, KV, MapleJuice, PipeRunner}
import graft.sources.Sdfs
import graft.streaming.EventStream

/** One operation of a workload. `run(verify)` performs it; in the warm-up
  * pass (`verify = true`) it also leaves its output where the check reads
  * it. */
final case class Op(name: String, run: Boolean => Unit)

/** A workload's operations in pass order, the check run after the warm-up
  * pass (returns one line per mismatch), and the DuckDB oracle of each
  * query whose result the warm-up pass wrote to `<results>/<name>`. */
final case class Workload(ops: Seq[Op], check: () => Seq[String],
    oracles: Map[String, String])

final class Workloads(spark: SparkSession, t: Tracer, data: String,
    corpus: String, work: String, scripts: String) {
  import spark.implicits._

  private val results = s"$work/results"

  /** `SparkEntry.queries(name)` timed as `operators.build_s`, then its
    * action timed as `operators.exec_s`: a noop sink, which computes every
    * output column, or in the warm-up pass a parquet write for the check.
    * Streaming queries also report the program's own operator time. */
  private def query(name: String): Op = Op(name, verify => {
    EventStream.drainOpSecs(); EventStream.drainOpBatches()
    val df = t.span("operators.build_s", "operators") {
      val df = SparkEntry.queries(name)(spark, data)
      val opSecs = EventStream.drainOpSecs()
      if (opSecs > 0) {
        t.synthetic("streaming.op_s", "streaming", System.nanoTime(), opSecs)
        t.add("streaming.op_s", opSecs)
        t.add("streaming.batches", EventStream.drainOpBatches().toDouble)
      }
      df
    }
    t.span("operators.exec_s", "operators") {
      val w = df.write.mode("overwrite")
      if (verify) w.parquet(s"$results/$name") else w.format("noop").save()
    }
    spark.catalog.clearCache()
  })

  // ------------------------------------------------------------ MapleJuice
  private val warehouse = s"$work/sdfs"
  private lazy val sdfs = new Sdfs(spark, warehouse)
  private lazy val jobs = new JobRunner(spark, sdfs)

  private val wcMaple: MapleJuice.MapleFn =
    _.flatMap(_.split("\\s+")).filter(_.nonEmpty).map(w => KV(w, "1"))
  private val wcJuice: MapleJuice.JuiceFn =
    (k, vs) => Iterator.single(KV(k, vs.map(_.toLong).sum.toString))
  private val rwlgMaple: MapleJuice.MapleFn = _.flatMap { l =>
    val i = l.indexOf(',')
    if (i < 0) Iterator.empty else Iterator.single(KV(l.substring(i + 1), l.substring(0, i)))
  }
  private val rwlgJuice: MapleJuice.JuiceFn =
    (k, vs) => Iterator.single(KV(k, vs.toSet.toSeq.sorted.mkString(",")))

  private object SumCounts extends Aggregator[KV, Long, Long] {
    def zero: Long = 0L
    def reduce(b: Long, kv: KV): Long = b + kv.value.toLong
    def merge(a: Long, b: Long): Long = a + b
    def finish(r: Long): Long = r
    def bufferEncoder = Encoders.scalaLong
    def outputEncoder = Encoders.scalaLong
  }

  private def put(file: String, name: String): Op = Op(s"sdfs_put_$name", _ =>
    t.span("sources.put_s", "sources") {
      sdfs.put(spark.read.textFile(s"$corpus/$file"), name)
      if (t.enabled) {
        val p = new org.apache.hadoop.fs.Path(warehouse, name)
        t.add("sources.bytes_written", p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .getContentSummary(p).getLength.toDouble)
      }
    })

  /** Writes a word count (`key`, `cnt`) to the noop sink, or for the check
    * to `<results>/<name>`. */
  private def sink(df: DataFrame, name: String, verify: Boolean): Unit = {
    val w = df.write.mode("overwrite")
    if (verify) w.parquet(s"$results/$name") else w.format("noop").save()
  }

  /** The reference's two applications through `JobRunner` (MapleJob, then
    * JuiceJob into the sorted sink), word count through the combiner path
    * and through external `python3` executables, and the read-back. */
  private lazy val mapleJuiceOps: Seq[Op] = {
    val mj = new MapleJuice(spark)
    Seq(
      put("text.txt", "text"),
      put("links.txt", "links"),
      Op("wc_maple", _ => t.span("engine.maple_s", "engine") {
        t.add("engine.kv_records", jobs.submit(jobs.MapleJob(s"$warehouse/text", wcMaple, "wc")).toDouble)
      }),
      Op("wc_juice", _ => t.span("engine.juice_s", "engine") {
        jobs.submit(jobs.JuiceJob("wc", wcJuice, s"$warehouse/wc_out", deleteInput = true))
      }),
      Op("rwlg_maple", _ => t.span("engine.maple_s", "engine") {
        t.add("engine.kv_records", jobs.submit(jobs.MapleJob(s"$warehouse/links", rwlgMaple, "rwlg")).toDouble)
      }),
      Op("rwlg_juice", _ => t.span("engine.juice_s", "engine") {
        jobs.submit(jobs.JuiceJob("rwlg", rwlgJuice, s"$warehouse/rwlg_out",
          deleteInput = true, singleFileCompat = false))
      }),
      Op("wc_aggregated", verify => t.span("engine.agg_s", "engine") {
        sink(mj.juiceAggregated(mj.maple(mj.readLines(s"$warehouse/text"), wcMaple), SumCounts)
          .toDF("key", "cnt"), "wc_aggregated", verify)
      }),
      Op("wc_pipe", verify => t.span("engine.pipe_s", "engine") {
        val pr = new PipeRunner(spark)
        val inter = pr.mapleExe(mj.readLines(s"$warehouse/text"), Seq("python3", s"$scripts/wc_maple.py"))
        sink(pr.juiceExe(inter, Seq("python3", s"$scripts/wc_juice.py"))
          .select($"key", $"value".cast("long").as("cnt")), "wc_pipe", verify)
      }),
      Op("sdfs_get", _ => t.span("sources.get_s", "sources") {
        Seq("wc_out", "rwlg_out").foreach(n => sdfs.get(n).write.format("noop").mode("overwrite").save())
      }))
  }

  /** The sinks, read back through `Sdfs.get`, against declarative twins
    * computed on the same corpus (the word-count sink line by line, since
    * it must be one file sorted by key); the combiner and pipe word counts
    * against the engine's. */
  private def checkMapleJuice(): Seq[String] = {
    def rows(df: DataFrame): Map[String, String] =
      df.collect().map(r => r.get(0).toString -> r.get(1).toString).toMap
    def diff(what: String, got: Map[String, String], want: Map[String, String]): Option[String] =
      Option.when(got != want)(s"$what: ${(got.toSet diff want.toSet).size} rows differ " +
        s"(got ${got.size}, want ${want.size})")
    def tsv(df: Dataset[String]): DataFrame =
      df.select(substring_index($"value", "\t", 1), substring_index($"value", "\t", -1))
    val wcLines = sdfs.get("wc_out").collect().toSeq
    val wc = rows(tsv(wcLines.toDS()))
    val wcTwin = rows(spark.read.textFile(s"$corpus/text.txt")
      .select(explode(split($"value", "\\s+")).as("w")).filter($"w" =!= "")
      .groupBy("w").count())
    val rwlgTwin = rows(spark.read.textFile(s"$corpus/links.txt")
      .select(substring_index($"value", ",", -1).as("target"),
        substring_index($"value", ",", 1).as("source"))
      .groupBy("target").agg(array_join(sort_array(collect_set($"source")), ",")))
    val parts = new java.io.File(s"$warehouse/wc_out").list().count(_.startsWith("part-"))
    Seq(
      Option.when(wcLines != wcTwin.toSeq.sorted.map { case (w, n) => s"$w\t$n" })(
        s"wc sink: not the sorted explode/groupBy twin (${wcLines.size} lines, want ${wcTwin.size})"),
      Option.when(parts != 1)(s"wc sink: $parts part files, want 1"),
      diff("rwlg sink vs groupBy twin", rows(tsv(sdfs.get("rwlg_out"))), rwlgTwin),
      diff("wc_aggregated vs engine wc", rows(spark.read.parquet(s"$results/wc_aggregated")), wc),
      diff("wc_pipe vs engine wc", rows(spark.read.parquet(s"$results/wc_pipe")), wc),
    ).flatten
  }

  /** The named operations, in the given order: the MapleJuice steps (which
    * must all run, in their pipeline order) or graft queries by their
    * `SparkEntry.queries` name. */
  def apply(names: Seq[String]): Workload =
    if (names.contains("wc_maple")) {
      require(names == mapleJuiceOps.map(_.name), s"MapleJuice steps: ${mapleJuiceOps.map(_.name)}")
      Workload(mapleJuiceOps, () => checkMapleJuice(), Map.empty)
    } else {
      names.filterNot(SparkEntry.queries.contains).foreach(n =>
        throw new IllegalArgumentException(s"unknown query '$n'"))
      Workload(names.map(query), () => Seq.empty,
        SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) })
    }
}
