package graft

import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.Ledger

/** Ledger laws that only separate JVMs can show. LedgerSpec's OCC
  * stress races THREADS in one JVM, which shares one filesystem view
  * and one memory model; real deployments race PROCESSES. Each race
  * here forks N writer JVMs ([[LedgerProc]]) that commit disjoint
  * single-key merges, all prepared against version 0, through one
  * claim style, and then checks the serializability law:
  *   - every writer commits a distinct consecutive version;
  *   - no update is lost;
  *   - version v carries exactly v edits.
  * The claim styles are the filesystem create-exclusive claim
  * (`File.createNewFile` = O_CREAT|O_EXCL, atomic across processes by
  * contract) and the conditional put of [[Ledger.FileCasLogStore]]
  * (one shared claims file under a cross-process `FileLock`).
  *
  * Stopping a session inside the test JVM would break the shared
  * [[SparkFixture]], so the session-restart case runs in a forked JVM
  * too. */
class LedgerMultiProcessSpec extends AnyFunSuite {
  import SparkFixture.spark

  private val nWriters = 4

  /** A forked `graft.LedgerProc` JVM; its output goes to a file so a
    * writer can never stall on a full pipe while holding a claim. */
  private final class Proc(args: Seq[String]) {
    private val log = java.io.File.createTempFile("ledger_proc_", ".log")
    log.deleteOnExit()
    private val p = {
      val opens = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.toSeq
        .filter(a => a.startsWith("--add-opens") || a.startsWith("--add-exports"))
      val cmd = Seq(System.getProperty("java.home") + "/bin/java", "-Xmx1g") ++
        opens ++ Seq("-cp", System.getProperty("java.class.path"), "graft.LedgerProc") ++ args
      new ProcessBuilder(cmd: _*).redirectErrorStream(true).redirectOutput(log).start()
    }

    /** (exit code, output); -1 when the JVM outlived the timeout. */
    def finish(): (Int, String) = {
      val rc = if (p.waitFor(10, TimeUnit.MINUTES)) p.exitValue()
               else { p.destroyForcibly(); -1 }
      (rc, new String(java.nio.file.Files.readAllBytes(log.toPath), "UTF-8"))
    }
  }

  /** The line `<prefix><value>` a forked JVM printed, or a failure
    * carrying the output's tail. */
  private def result(what: String, prefix: String, proc: Proc): String = {
    val (rc, out) = proc.finish()
    val v = out.linesIterator.collectFirst {
      case l if l.startsWith(prefix) => l.stripPrefix(prefix).trim
    }
    assert(rc == 0 && v.isDefined, s"$what failed (rc=$rc):\n${out.takeRight(4000)}")
    v.get
  }

  private def raceWriters(tag: String, store: String): Unit = {
    import spark.implicits._
    val t = Ledger.tableRoot(tag)
    val docs = (0L until 400L).map(i => (i, s"src${i % 4}", s"document body $i"))
      .toDF("doc_id", "source", "text")
    Ledger.create(spark, t, docs, "doc_id", nFiles = 8)
    val procs = (0 until nWriters).map(i => new Proc(Seq("write", t, i.toString, store)))
    val versions = procs.zipWithIndex.map { case (p, i) =>
      result(s"writer $i", "COMMIT v=", p).toInt
    }
    assert(versions.toSet == (1 to nWriters).toSet,
      s"every writer must commit a distinct consecutive version: $versions")
    assert(Ledger.latestVersion(spark, t) == nWriters)
    val last = Ledger.readVersion(spark, t, nWriters).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(last.size == 400, "upsert-only race must preserve row count")
    (0 until nWriters).foreach { i =>
      assert(last(LedgerProc.key(i)) == LedgerProc.text(i),
        s"writer $i's update must survive every rebase")
    }
    (1 to nWriters).foreach { v =>
      val dfv = Ledger.readVersion(spark, t, v)
      assert(dfv.count() == 400, s"v$v must have 400 rows")
      assert(dfv.filter(col("source").startsWith("w")).count() == v,
        s"v$v must carry exactly $v committed edits")
    }
    if (store == "cas") {
      val claims = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(LedgerProc.claimsFile(t))).asScala.toSeq
      assert(claims.size == nWriters && claims.distinct.size == nWriters,
        s"the CAS store must hold exactly one claim per version: $claims")
    }
  }

  test(s"OCC across processes: $nWriters writer JVMs serialize via the FS claim primitive") {
    raceWriters("ledger_mp_fs", "fs")
  }

  test(s"OCC across processes: $nWriters writer JVMs serialize via the file-backed conditional put") {
    raceWriters("ledger_mp_cas", "cas")
  }

  test("a new session re-reads a ledger version the stopped session had cached") {
    val t = Ledger.tableRoot("ledger_mp_restart")
    assert(result("restart", "RESTART rows=", new Proc(Seq("restart", t))) == "100 100")
  }
}

/** Forked side of [[LedgerMultiProcessSpec]].
  *   - `write <table> <i> <fs|cas>`: prepare a single-key merge against
  *     version 0 (deliberately stale: commitPrepared's validate+rebase
  *     loop must carry it to whatever version the race assigns), commit
  *     it through the named claim style, print `COMMIT v=<N>`.
  *   - `restart <table>`: create a 100-row table, read version 0, stop
  *     the session, read version 0 again from a new session, print
  *     `RESTART rows=<first> <second>`. */
object LedgerProc {
  def key(i: Int): Long = i * 50L + 5L
  def text(i: Int): String = s"writer $i wrote ${key(i)}"
  def claimsFile(table: String): String = s"${table.stripPrefix("file:")}/_cas_claims"

  private def session(): SparkSession = {
    val s = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("write", table, id, store) =>
      val i = id.toInt
      val spark = session()
      import spark.implicits._
      val logStore = store match {
        case "fs"  => Ledger.AtomicCreateLogStore
        case "cas" => new Ledger.FileCasLogStore(claimsFile(table))
      }
      val p = Ledger.prepareMerge(spark, table, 0,
        Seq((key(i), "upsert", s"w$i", text(i))).toDF("doc_id", "op", "source", "text"),
        "doc_id")
      val v = Ledger.commitPrepared(spark, table, p,
        maxAttempts = 64, waitMs = 120000, logStore = logStore)
      println(s"COMMIT v=$v")
      spark.stop()
    case Seq("restart", table) =>
      val first = session()
      import first.implicits._
      Ledger.create(first, table,
        (0L until 100L).map(i => (i, s"row $i")).toDF("id", "text"), "id", nFiles = 2)
      val n1 = Ledger.readVersion(first, table, 0).count()
      first.stop()
      val second = session()
      val n2 = Ledger.readVersion(second, table, 0).count()
      println(s"RESTART rows=$n1 $n2")
      second.stop()
    case _ =>
      System.err.println("usage: graft.LedgerProc write <table> <i> <fs|cas> | restart <table>")
      sys.exit(2)
  }
}
