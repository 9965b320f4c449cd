package graft.operators

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

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

  // shared-stage dirs created by this JVM, deleted at exit — without
  // this every run leaks one full parquet copy of every shared artifact
  // into the temp dir (r9 advice). A DELIBERATE stage that must outlive
  // the JVM belongs in persistPairTable/persistSpanTable with a
  // caller-owned sink, not here.
  private val stageDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
  // ... and ALSO keyed by the owning SparkContext, deleted when that
  // context ends: exit-only cleanup let a JVM that restarts its session
  // accumulate every session's stage dirs until exit — the ApplicationEnd
  // listener bounds the disk high-water mark at one session's worth (r10
  // advice). The exit hook stays as the backstop for a session never
  // stopped.
  private val sessionDirs =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.List[java.io.File]]()
  private val listenerArmed =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete(); ()
  }
  /** Delete (and stop tracking) every stage dir `appId`'s session wrote —
    * exactly what the ApplicationEnd listener runs at `spark.stop()`;
    * package-private so MaterializeSpec can drive it against the shared
    * test session without stopping it. */
  private[graft] def releaseStages(appId: String): Unit = {
    Option(sessionDirs.remove(appId)).foreach(_.forEach { d =>
      rm(d); stageDirs.remove(d); ()
    })
    // drop the dead session's shared-stage memo entries too — their dirs
    // are gone, and a same-JVM successor session gets a fresh appId
    sharedStages.keySet.removeIf(_._1 == appId)
  }
  /** Stage dirs still pending for `appId` (spec observability). */
  private[graft] def pendingStages(appId: String): Seq[java.io.File] =
    Option(sessionDirs.get(appId))
      .map(l => scala.jdk.CollectionConverters.ListHasAsScala(l).asScala.toSeq)
      .getOrElse(Nil)
  private lazy val cleanupHook: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      stageDirs.forEach(rm)
    }, "graft-materialize-cleanup"))
  }
  /** A fresh `graft_shared_<uuid>` dir path under `graft.materialize.dir`
    * (default: the JVM temp dir), deleted when `spark`'s SparkContext
    * ends (ApplicationEnd) or, as backstop, at JVM exit. */
  private def trackedDir(spark: SparkSession): String = {
    val base = spark.conf.get("graft.materialize.dir", sys.props("java.io.tmpdir"))
    val dir = s"$base/graft_shared_${java.util.UUID.randomUUID}"
    cleanupHook
    val f = new java.io.File(dir)
    stageDirs.add(f)
    val sc = spark.sparkContext
    val appId = sc.applicationId
    sessionDirs.computeIfAbsent(appId,
      _ => java.util.Collections.synchronizedList(
        new java.util.ArrayList[java.io.File]())).add(f)
    if (listenerArmed.add(appId))
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          releaseStages(appId)
      })
    dir
  }

  /** Materialize `df` once for multiple downstream consumers. */
  def stage(df: DataFrame): DataFrame = df.localCheckpoint()

  // shared-stage cells keyed by (applicationId, caller key) — see
  // [[shared]]. The map holds lazy CELLS rather than results so
  // computeIfAbsent only allocates (never runs a Spark job inside the
  // map's bin lock — a build that itself called shared() would
  // otherwise deadlock, and unrelated keys in one bin would serialize);
  // forcing the cell's lazy val outside the map blocks only same-key
  // callers, which is the wanted build-once semantics.
  private final class SharedCell(build: () => String) {
    lazy val dir: String = build()
  }
  private val sharedStages =
    new java.util.concurrent.ConcurrentHashMap[(String, String), SharedCell]()

  /** A staged artifact shared ACROSS QUERIES within one session — the
    * standing-index deployment story (a dup-span shard index is refreshed
    * by one batch job and consumed by every gate regime), so two declared
    * queries over the same artifact pay ONE build. First call per
    * (session, key) computes `build`, writes it to a parquet stage dir
    * and returns the re-read frame; every later call re-reads the same
    * dir. Parquet deliberately, not [[stage]]'s localCheckpoint: the
    * bench harness unpersists every persistent RDD between queries
    * (block-manager hygiene), which would destroy cross-query checkpoint
    * blocks — a parquet stage survives it, and its scan re-plans freshly
    * per consumer (broadcast vs shuffle hints still apply). Dirs are
    * deleted when the session's SparkContext ends (JVM exit as backstop);
    * a fresh session (new applicationId) rebuilds, so a cold run always
    * measures the full build.
    *
    * The key OWNS the artifact for the session's lifetime: the build is
    * a SNAPSHOT, and mutating the underlying source files mid-session
    * keeps serving the standing index built before the mutation —
    * exactly a deployment's refresh cadence (an index refresh is a new
    * job/session, not an implicit re-read). A caller that needs
    * per-query freshness wants [[stage]], not this. */
  def shared(spark: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    val appId = spark.sparkContext.applicationId
    val cell = sharedStages.computeIfAbsent((appId, key), _ => new SharedCell(() => {
      val d = trackedDir(spark)
      build.write.parquet(d)
      d
    }))
    spark.read.parquet(cell.dir)
  }

  /** `df.staged` — [[stage]] as a chainable suffix, so call sites read
    * like the `.localCheckpoint()` they replace. */
  implicit class Stageable(private val df: DataFrame) extends AnyVal {
    def staged: DataFrame = stage(df)
  }
}
