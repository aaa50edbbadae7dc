package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The one registry of STANDING artifacts: the trained models, frozen
  * indexes, derived edge lists and written layouts that serving
  * queries probe instead of rebuilding inside every invocation. Reuse
  * across the queries of one session is an explicit object with a
  * lifecycle (the EDBT 2020 incremental top-k model, PAPERS.md): each
  * artifact is declared once, by name, beside its build; this object
  * memoizes it, drops what dies with a stopped session, times every
  * build, and [[prewarm]] builds every declaration. Every build is
  * deterministic, so a memoized artifact is bit-identical to one built
  * in place (each oracle replays its chain independently). */
private[graft] object Artifacts {

  /** Session-scoped values: checkpointed frames, layout paths,
    * re-framed collected rows and [[Tables.load]]'s relations. A
    * localCheckpoint's blocks die with the session that made them, so
    * entries of stopped sessions are dropped here, on every access
    * (entry counts are tiny), and a multi-session JVM never reads dead
    * blocks or leaks one entry per restarted session. */
  private val store = TrieMap.empty[(SparkSession, String), AnyRef]

  def scoped[V <: AnyRef](s: SparkSession, key: String)(make: => V): V = {
    store.keysIterator.filter(_._1.sparkContext.isStopped)
      .foreach(store.remove)
    store.getOrElseUpdate((s, key), make).asInstanceOf[V]
  }

  /** One build: the artifact, its sf-dir, and its wall time (inclusive
    * of any artifact it builds first). */
  final case class Build(name: String, dir: String, ms: Long)
  private val buildLog = new ConcurrentLinkedQueue[Build]
  def builds: Seq[Build] = buildLog.asScala.toSeq

  private def timed[V](name: String, d: String)(build: => V): V = {
    val t0 = System.nanoTime()
    val v = build
    buildLog.add(Build(name, d, (System.nanoTime() - t0) / 1000000))
    v
  }

  private val declared =
    new ConcurrentLinkedQueue[(String, (SparkSession, String) => Any)]
  private def declare[V](name: String)(
      get: (SparkSession, String) => V): (SparkSession, String) => V =
    synchronized {
      if (declared.asScala.exists(_._1 == name))
        throw new IllegalStateException(
          s"standing artifact '$name' is declared twice")
      declared.add(name -> get)
      get
    }

  /** Trained rows per `name@sf-dir`: plain driver values, session-free. */
  private val trained =
    TrieMap.empty[String, Seq[(StructType, java.util.List[Row])]]

  /** Collected rows: small deterministic models (centroids, codebooks,
    * vocabularies, merge rules) trained once per sf-dir, collected to
    * the driver, and re-framed once per session. */
  final class Collected private[Artifacts] (
      get: (SparkSession, String) => Seq[DataFrame]) {
    def frames(s: SparkSession, d: String): Seq[DataFrame] = get(s, d)
    def apply(s: SparkSession, d: String): DataFrame = get(s, d).head
  }
  def collected(name: String)(
      train: (SparkSession, String) => Seq[DataFrame]): Collected =
    new Collected(declare(name) { (s, d) =>
      scoped(s, s"collected:$name@$d")(trained.getOrElseUpdate(
        s"$name@$d", timed(name, d)(train(s, d).map(f =>
          (f.schema, java.util.Arrays.asList(f.collect(): _*)))))
        .map { case (sch, rows) => s.createDataFrame(rows, sch) })
    })

  /** A checkpointed frame: a corpus-sized derived frame built per
    * (session, sf-dir) with an eager `localCheckpoint`. */
  def checkpointed(name: String)(make: (SparkSession, String) => DataFrame)
    : (SparkSession, String) => DataFrame =
    declare(name) { (s, d) =>
      scoped(s, s"frame:$name@$d")(
        timed(name, d)(make(s, d).localCheckpoint()))
    }

  private val layoutSeq = new AtomicLong

  /** A written layout: `write(session, sfDir, path)` builds the kind at
    * a fresh path once per (session, sf-dir). A repeat invocation
    * reuses the written index instead of rewriting part files out from
    * under a previously returned frame's file listing; the nonce keeps
    * distinct (session, sf-dir) layouts from colliding on disk. */
  def layout(kind: String)(write: (SparkSession, String, String) => Unit)
    : (SparkSession, String) => String =
    declare(kind) { (s, d) =>
      scoped(s, s"layout:$kind@$d")(timed(kind, d) {
        val p = new java.io.File(sys.props("java.io.tmpdir"),
          s"graft_${kind}_${s.sparkContext.applicationId}_" +
            s"${layoutSeq.incrementAndGet()}").getPath
        write(s, d, p)
        p
      })
    }

  /** Build every declared standing artifact for (session, sf-dir). The
    * bench calls this before its timed passes so each pass measures
    * steady SERVING: otherwise whichever query first touches an
    * artifact pays its build, and per-query numbers become
    * order-dependent accidents of one JVM. Declarations run when their
    * query pack initializes, so the packs are forced first (through
    * [[SparkEntry.queries]]): the set built is every artifact any query
    * can reach. A failed build is reported by name on stderr and the
    * rest still build; the consuming query retries it in its own run. */
  def prewarm(s: SparkSession, d: String): Unit = {
    SparkEntry.queries
    declared.asScala.foreach { case (name, get) =>
      try get(s, d)
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"prewarm: standing artifact '$name' failed: $e")
      }
    }
  }
}
