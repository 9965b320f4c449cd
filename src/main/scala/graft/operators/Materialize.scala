package graft.operators

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}

import graft.LocalFs

/** The ONE materialization indirection for "this subtree feeds multiple
  * consumers — compute it once".
  *
  * [[stage]] is an eager `localCheckpoint()`: executor-local RDD blocks,
  * correct whenever executors survive the job. A subtree shared ACROSS
  * queries is [[shared]] (parquet under `graft.materialize.dir`, deleted
  * when its session ends); a stage meant to OUTLIVE the job is
  * [[Curation.persistPairTable]]/[[Curation.persistSpanTable]] with a
  * caller-owned sink. Deliberately NOT routed through here: the
  * per-iteration checkpoints inside [[Curation.nearDupClusters]]'s
  * fixpoint loop, where cutting lineage each round is algorithmic (an
  * un-truncated iterative plan grows without bound), not a re-use
  * optimization.
  */
object Materialize {

  // Shared-artifact state of one session (one SparkContext): its build
  // cells and every dir it wrote. The dirs are deleted when that context
  // ends — exit-only cleanup let a JVM that restarts its session
  // accumulate every session's dirs until exit (r10 advice) — and the
  // JVM-exit hook deletes what a session never stopped left behind (r9
  // advice: without it every run leaks one parquet copy of every shared
  // artifact into the temp dir). A DELIBERATE stage that must outlive the
  // JVM belongs in persistPairTable/persistSpanTable with a caller-owned
  // sink, not here.
  //
  // The cells map holds lazy CELLS rather than results so computeIfAbsent
  // only allocates (never runs a Spark job inside the map's bin lock — a
  // build that itself called shared() would otherwise deadlock, and
  // unrelated keys in one bin would serialize); forcing the cell's lazy
  // val outside the map blocks only same-key callers, which is the wanted
  // build-once semantics.
  private final class SharedCell(build: () => String) {
    lazy val dir: String = build()
  }
  private final class SessionState {
    val cells = new ConcurrentHashMap[(String, String), SharedCell]()
    val dirs = new ConcurrentLinkedQueue[java.io.File]()
  }
  private val sessions = new ConcurrentHashMap[String, SessionState]()

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete(); ()
  }
  /** Delete every dir `appId`'s session wrote and forget its cells —
    * exactly what the ApplicationEnd listener runs at `spark.stop()`;
    * package-private so MaterializeSpec can drive it against the shared
    * test session without stopping it. */
  private[graft] def releaseStages(appId: String): Unit =
    Option(sessions.remove(appId)).foreach(_.dirs.forEach(rm))
  /** Stage dirs still pending for `appId` (spec observability). */
  private[graft] def pendingStages(appId: String): Seq[java.io.File] =
    Option(sessions.get(appId)).map(_.dirs.asScala.toSeq).getOrElse(Nil)
  private lazy val cleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      sessions.values.forEach(_.dirs.forEach(rm)), "graft-materialize-cleanup"))

  /** `spark`'s session state, created on first use together with the
    * ApplicationEnd listener that releases it. */
  private def stateOf(spark: SparkSession): SessionState = {
    val sc = spark.sparkContext
    val appId = sc.applicationId
    sessions.computeIfAbsent(appId, _ => {
      cleanupHook
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          releaseStages(appId)
      })
      new SessionState
    })
  }

  /** Materialize `df` once for multiple downstream consumers. */
  def stage(df: DataFrame): DataFrame = df.localCheckpoint()

  /** What `sources` read: the root paths and every input file's path,
    * length and modification time, as one SHA-256 hex digest. A source
    * leaf that is not a file scan (an in-memory frame, a checkpoint, a
    * range) is rejected by the artifact's `name`: nothing about it could
    * show that its contents changed, so a key built from it could alias
    * two different inputs. */
  private def fingerprint(name: String, sources: Seq[DataFrame]): String = {
    val listing = sources.flatMap(_.queryExecution.analyzed.collectLeaves()).flatMap { leaf =>
      val index = Some(leaf).collect { case l: LogicalRelation => l.relation }
        .collect { case h: HadoopFsRelation => h.location }
        .collect { case i: PartitioningAwareFileIndex => i }
        .getOrElse(throw new IllegalArgumentException(
          s"shared artifact '$name': a source reads ${leaf.nodeName}, not files"))
      index.rootPaths.map(_.toString) ++ index.allFiles()
        .map(s => s"${s.getPath}\t${s.getLen}\t${s.getModificationTime}").sorted
    }
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(listing.mkString("\n").getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** A staged artifact shared ACROSS QUERIES within one session — the
    * standing-index deployment story (a dup-span shard index is refreshed
    * by one batch job and consumed by every gate regime), so two declared
    * queries over the same artifact pay ONE build.
    *
    * An artifact is identified by its `name` (a string literal, used at
    * one call site) and by the files its `sources` read, fingerprinted by
    * path, length and modification time on every call. The first call per
    * (session, name, fingerprint) computes `build`, writes it to a fresh
    * `graft_shared_<uuid>` parquet dir under `graft.materialize.dir`
    * (default: the JVM temp dir) and returns the re-read frame; a later
    * call whose sources read the same files re-reads that dir. When a
    * source file is added, removed or rewritten, the next call builds
    * again into a new dir — a standing artifact is never served over
    * files it was not built from. `build` must read only `sources`
    * (constants such as shard counts live in the build); an artifact
    * built from another artifact passes that artifact's parquet read as
    * its source, so the pair never mixes two corpus states. A superseded
    * dir stays until the session ends, because a lazy consumer may still
    * read it.
    *
    * Parquet deliberately, not [[stage]]'s localCheckpoint: the bench
    * harness unpersists every persistent RDD between queries
    * (block-manager hygiene), which would destroy cross-query checkpoint
    * blocks — a parquet stage survives it, and its scan re-plans freshly
    * per consumer (broadcast vs shuffle hints still apply). Dirs are
    * deleted when the session's SparkContext ends (JVM exit as backstop);
    * a fresh session (new applicationId) rebuilds, so a cold run always
    * measures the full build. The parquet write starts from
    * [[LocalFs.write]], so a `file:` materialize dir gets its files' and
    * dirs' modes through `java.nio`, not one forked `chmod` each; only
    * the `file:` scheme is remapped, and a host with native Hadoop makes
    * the same `chmod` syscall. */
  def shared(name: String, sources: DataFrame*)(build: => DataFrame): DataFrame = {
    require(sources.nonEmpty, s"shared artifact '$name' names no source")
    val spark = sources.head.sparkSession
    val state = stateOf(spark)
    val key = (name, fingerprint(name, sources))
    val cell = state.cells.computeIfAbsent(key, _ => new SharedCell(() => {
      val base = spark.conf.get("graft.materialize.dir", sys.props("java.io.tmpdir"))
      val dir = s"$base/graft_shared_${java.util.UUID.randomUUID}"
      state.dirs.add(new java.io.File(dir))
      LocalFs.write(build).parquet(dir)
      dir
    }))
    spark.read.parquet(cell.dir)
  }

  /** `df.staged` — [[stage]] as a chainable suffix, so call sites read
    * like the `.localCheckpoint()` they replace. */
  implicit class Stageable(private val df: DataFrame) extends AnyVal {
    def staged: DataFrame = stage(df)
  }
}
