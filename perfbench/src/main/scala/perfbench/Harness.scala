package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.etl.Ledger
import graft.vector.KnnIncr

/** The benchmark's JVM side: one closed-loop client thread driving the
  * engine through its public entry points.
  *
  * Reads a run configuration (JSON, written by run.py), performs the
  * set-ups and the timed op list, and writes the raw facts back as JSON:
  * per-op times and output checksums, set-up times, standing bytes and,
  * in a traced run, the listener's job/query events. Judging the
  * checksums and computing statistics is left to run.py.
  *
  * Usage: Harness <config.json> <out.json>
  */
object Harness {
  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val cfg = mapper.readTree(new File(args(0)))
    val out = mapper.createObjectNode()
    cfg.get("mode").asText() match {
      case "prepare" => prepare(cfg, out)
      case "validate" => validate(cfg, out)
      case _ => run(cfg, out)
    }
    Files.write(Paths.get(args(1)), mapper.writeValueAsBytes(out))
  }

  // ---- session ----

  /** The session posture graft.Bench measures with (shuffle width =
    * cores, AQE advisory coalescing, 10k codegen cache, 0.3 storage
    * fraction), plus a local dir inside the run's work directory. */
  def settings(cfg: JsonNode): Seq[(String, String)] = {
    val cores = cfg.get("cores").asText()
    Seq(
      "spark.master" -> s"local[$cores]",
      "spark.sql.shuffle.partitions" -> cores,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.codegen.cache.maxEntries" -> "10000",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "4194304",
      "spark.memory.storageFraction" -> "0.3",
      "spark.cleaner.periodicGC.interval" -> "2min",
      "spark.local.dir" -> cfg.get("local_dir").asText(),
      "spark.sql.warehouse.dir" -> cfg.get("warehouse_dir").asText())
  }

  def session(cfg: JsonNode): SparkSession = {
    val b = SparkSession.builder().appName("perfbench")
    settings(cfg).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def describe(e: Throwable): String = s"${e.getClass.getName}: ${e.getMessage}".take(500)

  // ---- output checksum ----

  /** Canonical form of a value for hashing: doubles and floats rounded
    * to 6 decimals (and -0.0 folded into 0.0), nested types recursed,
    * maps turned into key-sorted entry arrays. */
  private def canon(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6) + lit(0.0)
    case ArrayType(et, _) => transform(c, x => canon(x, et))
    case st: StructType =>
      when(c.isNull, lit(null)).otherwise(struct(st.fields.toIndexedSeq.map(f =>
        canon(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e => struct(
        canon(e.getField("key"), kt).as("k"), canon(e.getField("value"), vt).as("v"))))
    case _ => c
  }

  /** One action reading every output column: (row count, order-
    * insensitive sum of per-row xxhash64 over the canonical values). */
  def checksum(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.toIndexedSeq.map(f => canon(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h").cast(DecimalType(38, 0))), lit(BigDecimal(0))))
      .head()
    (r.getLong(0), r.getDecimal(1).toBigInteger.toString)
  }

  // ---- standing artifacts (set-up) ----

  /** Each standing artifact the workloads use, by name, built through
    * the engine's own warm entry points. */
  val artifacts: Map[String, (SparkSession, String) => Unit] = Map(
    "ivf_centroids" -> ((s, d) => graft.vector.VectorOps.ivfCentroids(s, d).count()),
    "pq_codebooks" -> ((s, d) => graft.vector.VectorOps.refinedPqCodebooks(s, d).count()),
    "knn_clusters" -> ((s, d) => graft.vector.VectorOps.qKnnClusters(s, d).count()),
    "ann_exact" -> ((s, d) => graft.vector.VectorOps.warmAnnExact(s, d)),
    "minhash_pairs" -> ((s, d) => graft.dedup.Dedup.minhashPairs(s, d).count()),
    "corpus_clusters" -> ((s, d) => graft.dedup.Dedup.corpusClusters(s, d).count()),
    "bm25_index" -> ((s, d) => graft.text.Retrieval.warm(s, d)),
    "ledger_lineages" -> ((s, d) => Ledger.warm(s, d)),
    "compact_input" -> ((s, d) => { graft.ops.Sink.warmCompactInput(s, d); () }),
    "knn_incr" -> ((s, d) => KnnIncr.qKnnIncr(s, d).count()),
    "knn_part_incr" -> ((s, d) => graft.vector.KnnPart.qKnnPartIncr(s, d).count()),
    "knn_part" -> ((s, d) => graft.vector.KnnPart.warm(s, d)),
    "orderkey_bloom" -> ((s, d) => { graft.ops.BloomJoin.builtOrderkeyBloom(s, d); () }),
    "knn_index" -> ((s, d) => { graft.vector.VectorOps.knnIndexed(s, d); () }))

  /** JIT, class loading and parquet-reader init: one small scan, agg and
    * window, as graft.Bench warms. */
  private def warm(spark: SparkSession, dir: String): Unit = {
    val w = spark.read.parquet(s"$dir/lineitem.parquet")
    w.groupBy("l_returnflag").count().count()
    import org.apache.spark.sql.expressions.Window
    w.limit(1000).withColumn("rn",
      row_number().over(Window.partitionBy("l_returnflag").orderBy("l_orderkey"))).count()
  }

  private def storageBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  // ---- runs ----

  private def strings(n: JsonNode): Seq[String] =
    if (n == null) Nil else n.elements().asScala.map(_.asText()).toSeq

  private def run(cfg: JsonNode, out: ObjectNode): Unit = {
    val traced = cfg.get("trace").asBoolean()
    val dir = cfg.get("corpus").asText()
    val etl = cfg.get("mode").asText() == "etl"
    var spark: SparkSession = null
    Option(cfg.get("jit_warmup")).foreach { w =>
      val t0 = System.nanoTime()
      spark = session(cfg)
      if (etl) EtlState.create(spark, w).runBatches(spark, None, mapper.createArrayNode())
      else {
        val base = w.get("corpus").asText()
        warm(spark, base)
        for (name <- strings(w.get("ops"))) checksum(SparkEntry.queries(name)(spark, base))
      }
      out.put("jit_warmup_ms", ms(t0))
    }
    val setups = out.putArray("setups")
    var etlState: EtlState = null
    for (i <- 0 until cfg.get("setups").asInt()) {
      if (spark != null) {
        graft.StandingState.release()
        spark.stop()
      }
      val rec = setups.addObject()
      val t0 = System.nanoTime()
      spark = session(cfg)
      rec.put("session_ms", ms(t0))
      val tw = System.nanoTime()
      if (!etl) warm(spark, dir)
      rec.put("warm_ms", ms(tw))
      val arts = rec.putObject("artifacts_ms")
      for (a <- strings(cfg.get("standing"))) {
        val ta = System.nanoTime()
        artifacts(a)(spark, dir)
        arts.put(a, ms(ta))
      }
      if (etl) {
        val ta = System.nanoTime()
        etlState = EtlState.create(spark, cfg.get("etl"))
        arts.put("etl_tables", ms(ta))
      }
      rec.put("total_ms", ms(t0))
    }
    out.put("standing_bytes", storageBytes(spark))
    val rdds = out.putArray("standing_rdds")
    for (i <- spark.sparkContext.getRDDStorageInfo) rdds.addObject()
      .put("id", i.id).put("name", i.name).put("partitions", i.numCachedPartitions)
      .put("mem", i.memSize).put("disk", i.diskSize)
    out.set[JsonNode]("settings", mapper.valueToTree(settings(cfg).toMap.asJava))

    val tracer = if (traced) Some(new Tracer(spark)) else None
    val ops = out.putArray("ops")
    val t0 = System.nanoTime()
    if (etl) etlState.runBatches(spark, tracer, ops)
    else {
      val queries = SparkEntry.queries
      for (name <- strings(cfg.get("ops"))) {
        val rec = ops.addObject()
        rec.put("name", name)
        tracer.foreach(_.beginOp(name))
        val ta = System.currentTimeMillis()
        val tb = System.nanoTime()
        try {
          val df = queries(name)(spark, dir)
          val built = System.currentTimeMillis()
          val (rows, sum) = checksum(df)
          rec.put("rows", rows)
          rec.put("sum", sum)
          rec.put("built_ms", built)
        } catch {
          case e: Throwable => rec.put("error", describe(e))
        }
        rec.put("ms", ms(tb))
        rec.put("start_ms", ta)
        rec.put("end_ms", System.currentTimeMillis())
        tracer.foreach(_.endOp(rec))
      }
    }
    out.put("wall_ms", ms(t0) - (if (etl) etlState.checkMs else 0.0))
    tracer.foreach(_.finish(out.putObject("trace")))
    if (etl) etlState.report(out.putObject("etl"))
    graft.StandingState.release()
    spark.stop()
  }

  /** Build the scaled corpus with graft.ScaleGen (not timed by any run). */
  private def prepare(cfg: JsonNode, out: ObjectNode): Unit = {
    val spark = session(cfg)
    val t0 = System.nanoTime()
    graft.ScaleGen.scale(spark, cfg.get("src").asText(), cfg.get("dst").asText(),
      cfg.get("copies").asInt())
    out.put("ms", ms(t0))
    spark.stop()
  }

  /** One-off: run each named query once, write its output as parquet for
    * the DuckDB oracle and record its checksum. */
  private def validate(cfg: JsonNode, out: ObjectNode): Unit = {
    val spark = session(cfg)
    val dir = cfg.get("corpus").asText()
    val dump = cfg.get("dump").asText()
    val res = out.putObject("queries")
    val oracle = mapper.createObjectNode()
    for (name <- strings(cfg.get("ops"))) {
      SparkEntry.oracleSql.get(name).foreach(oracle.put(name, _))
      val rec = res.putObject(name)
      try {
        val df = SparkEntry.queries(name)(spark, dir)
        val (rows, sum) = checksum(df)
        rec.put("rows", rows)
        rec.put("sum", sum)
        df.write.mode("overwrite").parquet(s"$dump/$name")
      } catch {
        case e: Throwable => rec.put("error", describe(e))
      }
    }
    Files.write(Paths.get(s"$dump/oracle_sql.json"), mapper.writeValueAsBytes(oracle))
    spark.stop()
  }
}
