package graft.perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{Ledger, NftPipeline}
import graft.vector.KnnIncr

/** `etl_commit`: the paper's pipeline as repeated batches over one
  * standing ledger table. Each batch reads a page range through
  * PagedSource (transient failures on), enriches it with the batch's raw
  * detail JSON (ingestJson, quarantine, enrich), normalizes it
  * (normalizeNfts, traitsExploded), merges it into the table, refreshes
  * the maintained kNN index and serves a kNN join and a head read. */
final class EtlState private (cfg: JsonNode, val table: String) {
  private val batches = cfg.get("batches").elements().asScala.toIndexedSeq
  private val inputDir = cfg.get("dir").asText()
  private var version = 0
  private var index: KnnIncr.Index = _

  private def pages(spark: SparkSession, lo: Long, hi: Long): DataFrame =
    spark.read.format("graft.sources.PagedSource")
      .option("rows", cfg.get("rows").asLong())
      .option("pageSize", cfg.get("page").asInt())
      .option("pagesPerPartition", 4)
      .option("failEvery", cfg.get("fail_every").asInt())
      .load()
      .filter(col("identifier") >= lo && col("identifier") < hi)

  /** Feature vector of a row, a pure function of its payload. */
  private def vec(url: Column, sig: Column): Column =
    transform(sequence(lit(0), lit(63)), i =>
      (pmod(xxhash64(url, sig, i), lit(2001L)) - lit(1000L)).cast("double") / lit(1000.0))

  /** Steps of one batch, each timed into `steps` (name -> [start, end]
    * epoch ms); returns the change set merged into the table. */
  private def changes(spark: SparkSession, b: JsonNode, steps: ObjectNode,
      rec: ObjectNode): DataFrame = {
    val src = EtlState.step(steps, "read") {
      EtlState.materialized(pages(spark, b.get("lo").asLong(), b.get("hi").asLong()))
    }
    val good = EtlState.step(steps, "ingest") {
      val raw = spark.read.textFile(new File(inputDir, b.get("file").asText()).getPath)
      val (good, bad) = NftPipeline.quarantine(NftPipeline.ingestJson(spark, raw))
      rec.put("quarantined", bad.count())
      EtlState.materialized(good)
    }
    val ch = EtlState.step(steps, "transform") {
      val enriched = NftPipeline.enrich(
        src.select(col("identifier").cast("string").as("identifier"), col("collection"),
          col("token_standard"), col("name"), col("metadata_url")),
        good.select(col("metadata_url"), col("contract"), col("traits")))
      val sig = NftPipeline.traitsExploded(enriched)
        .groupBy(col("identifier"))
        .agg(concat_ws(";", array_sort(collect_list(
          concat(col("trait_type"), lit("="), col("value"))))).as("traits_sig"))
      val ch = NftPipeline.normalizeNfts(enriched).join(sig, Seq("identifier"))
        .select(col("identifier").cast("long").as("vec_id"), lit("upsert").as("op"),
          col("collection"), col("contract"), col("token_standard"), col("name"),
          col("metadata_url"), col("traits_sig"),
          vec(col("metadata_url"), col("traits_sig")).as("v"))
      EtlState.materialized(ch)
    }
    EtlState.release(src)
    EtlState.release(good)
    ch
  }

  private def headCheck(df: DataFrame, rec: ObjectNode): Unit = {
    val r = df.agg(count(lit(1)), coalesce(sum(pmod(col("vec_id") * 1000003L +
        coalesce(crc32(col("contract")), lit(0L)) +
        coalesce(crc32(col("traits_sig")), lit(0L)) * 7L, lit(1L << 31))), lit(0L)))
      .head()
    rec.put("head_rows", r.getLong(0))
    rec.put("head_check", r.getLong(1))
  }

  private var bytesStart = 0L
  /** Time spent on model checks between batches, kept out of the wall. */
  var checkMs = 0.0

  def runBatches(spark: SparkSession, tracer: Option[Tracer], ops: ArrayNode): Unit = {
    bytesStart = EtlState.bytesUnder(new File(table))
    for (bi <- 1 until batches.size) {
      val rec = ops.addObject()
      rec.put("name", s"batch_$bi")
      tracer.foreach(_.beginOp(s"batch_$bi"))
      val steps = rec.putObject("steps")
      val ta = System.currentTimeMillis()
      val tb = System.nanoTime()
      try {
        val ch = changes(spark, batches(bi), steps, rec)
        EtlState.step(steps, "commit") { Ledger.merge(spark, table, version, ch, "vec_id") }
        EtlState.release(ch)
        version += 1
        index = EtlState.step(steps, "maintain") { KnnIncr.maintainedIndex(spark, table) }
        EtlState.step(steps, "serve") {
          val (n, s) = Harness.checksum(KnnIncr.knnJoinIndexed(spark, index, 3))
          rec.put("knn_rows", n); rec.put("knn_sum", s)
        }
        EtlState.step(steps, "head_read") { headCheck(Ledger.readVersion(spark, table, version), rec) }
      } catch {
        case e: Throwable => rec.put("error", Harness.describe(e))
      }
      rec.put("ms", (System.nanoTime() - tb) / 1e6)
      rec.put("start_ms", ta)
      rec.put("end_ms", System.currentTimeMillis())
      tracer.foreach(_.endOp(rec))
      if (!rec.has("error")) {
        val tc = System.nanoTime()
        rec.put("version", version)
        rec.put("bytes_after", EtlState.bytesUnder(new File(table)))
        def paths(v: Int) = Ledger.manifest(spark, table, v).select("path").collect().map(_.getString(0)).toSet
        val (now, prev) = (paths(version), paths(version - 1))
        rec.put("files_written", (now -- prev).size)
        rec.put("files_carried", (now & prev).size)
        // the maintained index must equal a from-scratch rebuild of the
        // head under the same dial (hashed rows and code histogram); on
        // the last batch the served kNN results are compared too
        val rebuilt = KnnIncr.rebuiltIndex(spark, table, index.dial)
        rec.put("index_equal", Harness.checksum(index.rows) == Harness.checksum(rebuilt.rows) &&
          Harness.checksum(index.hist) == Harness.checksum(rebuilt.hist))
        if (bi == batches.size - 1) {
          val (n, s) = Harness.checksum(KnnIncr.knnJoinIndexed(spark, rebuilt, 3))
          rec.put("rebuilt_rows", n); rec.put("rebuilt_sum", s)
        }
        checkMs += (System.nanoTime() - tc) / 1e6
      }
    }
  }

  /** Bytes under the ledger root before and after the timed phase. */
  def report(out: ObjectNode): Unit = {
    out.put("bytes_start", bytesStart)
    out.put("bytes_end", EtlState.bytesUnder(new File(table)))
  }
}

object EtlState {
  def step[A](steps: ObjectNode, name: String)(body: => A): A = {
    val t0 = System.currentTimeMillis()
    val r = body
    steps.putArray(name).add(t0).add(System.currentTimeMillis())
    r
  }

  /** Eagerly local-checkpointed; callers [[release]] it once consumed,
    * so no intermediate of a batch outlives its batch. */
  def materialized(df: DataFrame): DataFrame = df.localCheckpoint()

  /** Drop a [[materialized]] frame's blocks now (its blocks hang off the
    * plan's LogicalRDD leaf; Dataset.unpersist does not reach them). */
  def release(df: DataFrame): Unit = df.queryExecution.analyzed.foreach {
    case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(blocking = true)
    case _ => ()
  }

  def bytesUnder(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0L)

  /** Set-up: the standing table at version 0 from batch 0, and the
    * maintained index bootstrapped over it. */
  def create(spark: SparkSession, cfg: JsonNode): EtlState = {
    val st = new EtlState(cfg, cfg.get("table").asText())
    val b0 = st.batches.head
    val scratch = new com.fasterxml.jackson.databind.ObjectMapper().createObjectNode()
    val ch = st.changes(spark, b0, scratch, scratch)
    Ledger.create(spark, st.table, ch.drop("op"), "vec_id", nFiles = 4)
    EtlState.release(ch)
    st.index = KnnIncr.maintainedIndex(spark, st.table)
    st
  }
}
