package graft.store

import java.nio.file.{Files, Path}
import java.util.UUID

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Durable pipeline-boundary pins.
  *
  * `localCheckpoint(true)` truncates lineage but stores the pinned
  * blocks UNREPLICATED on executor-local storage: on a real cluster,
  * losing one executor mid-pipeline fails the whole job with no
  * recompute path — a fault-tolerance cliff when the pinned relation is
  * corpus-scale (hours of work lost to one machine). [[pin]] is the
  * staged-parquet alternative (the same discipline as
  * [[Store.buildIvfIndex]]): write the boundary relation to the staging
  * filesystem, read it back. The pin then survives executor loss
  * whenever the staging dir is on durable storage — set
  * `graft.stage.dir` to an HDFS/S3 path on a cluster; the local[*]
  * default is a JVM-lifetime temp dir (deleted on exit), where
  * executors share the driver's machine and durability is moot anyway.
  * Bonus over a reliable `checkpoint()`: the read-back is a COLUMNAR
  * scan Catalyst can prune per consumer, where a checkpoint's RDD scan
  * deserializes every column for every consumer.
  *
  * Discipline (VERDICT r9): durable pins for corpus-scale boundaries —
  * the tf relations (x11/x15), chunk pairs (x16), the k-means
  * assignment (d9), the CC edge list and its initial labels (d7) —
  * while `localCheckpoint` remains the right tool for aggregate-small
  * pins (per-round CC labels) where re-running the job on executor loss
  * costs less than replicating the pin. Ingest batches are NOT such
  * pins, however small: once acknowledged they have no job to re-run,
  * so the HTTP facade stages every hot batch and fold ([[pinIn]]).
  */
object Stage {

  @volatile private var defaultBase: Option[Path] = None

  // test observability: executed plans of pins materialized while
  // recording is on — lets PlanSpec assert the one-corpus-scan shape of
  // the pinned operators (the pin runs eagerly, so its scans never
  // appear in the caller's final plan)
  private val recorded =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
  @volatile private var recording = false

  private[graft] def startRecording(): Unit = { recorded.clear(); recording = true }
  private[graft] def stopRecording(): Seq[(String, String)] = {
    recording = false
    val out = List.newBuilder[(String, String)]
    recorded.forEach(p => out += p)
    out.result()
  }

  /** Staging root: `graft.stage.dir` if set (cluster deployments point
    * it at durable shared storage), else one JVM-lifetime temp dir.
    */
  private def baseDir(spark: SparkSession): String =
    spark.conf.getOption("graft.stage.dir").getOrElse(synchronized {
      defaultBase.getOrElse {
        val d = Files.createTempDirectory("graft-stage-")
        sys.addShutdownHook(Store.deleteRecursively(d))
        defaultBase = Some(d)
        d
      }.toString
    })

  /** Materialize `df` to staged parquet and read it back — an eager,
    * durable, per-consumer-prunable pipeline-boundary pin. The explicit
    * read schema keeps the original column nullability (a bare parquet
    * read-back would widen everything to nullable) and makes empty
    * relations round-trip without schema inference.
    */
  def pin(df: DataFrame, tag: String): DataFrame =
    pinIn(Option(scopeOf.get).getOrElse(globalScope), df, tag)._1

  /** [[pin]] registering to an EXPLICIT scope instead of the calling
    * thread's ambient one — for owners whose pins are created on other
    * threads (HttpApi's flusher pins hot batches from its single-thread
    * executor; the store, not the thread, owns their lifecycle). Returns
    * the staged path too, so the owner can retire superseded pins
    * individually (a whole-scope clear would also delete still-live
    * ones). Scope obtained from [[detachedScope]] — never a
    * thread-bound [[open]] scope from another thread.
    */
  def pinIn(scope: PinScope, df: DataFrame,
      tag: String): (DataFrame, String) = {
    val spark = df.sparkSession
    val path = s"${baseDir(spark)}/$tag-${UUID.randomUUID()}"
    if (recording)
      recorded.add(tag -> df.queryExecution.executedPlan.toString)
    inFlight.incrementAndGet()
    try df.write.mode(SaveMode.ErrorIfExists).parquet(path)
    finally inFlight.decrementAndGet()
    scope.paths.add(path)
    (spark.read.schema(df.schema).parquet(path), path)
  }

  /** A scope NOT bound to any thread (no ThreadLocal registration):
    * pins enter it only via [[pinIn]], and it is cleared with
    * [[clearDetached]] from any thread.
    */
  def detachedScope(): PinScope = new PinScope

  /** Delete a detached scope's remaining pins (any thread). */
  def clearDetached(spark: SparkSession, scope: PinScope): Unit =
    drain(spark, scope.paths)

  /** Delete ONE staged pin of `scope` by path (retiring a superseded
    * generation) and stop tracking it there, so a long-lived owner's
    * scope holds only its live pins; no-op if the path was already
    * cleared or never staged.
    */
  def drop(spark: SparkSession, scope: PinScope, path: String): Unit = {
    scope.paths.remove(path)
    val hp = new org.apache.hadoop.fs.Path(path)
    hp.getFileSystem(spark.sessionState.newHadoopConf()).delete(hp, true)
  }

  /** A unit-of-work handle: every [[pin]] the opening thread creates
    * while the scope is open registers here, and `clear(spark, scope)`
    * deletes exactly those pins. This is what makes concurrent query
    * builds safe: each build opens its own scope, so one query's
    * boundary-clear can never delete another query's still-live pin
    * (the failure mode of the old JVM-global queue — an opaque
    * FileNotFoundException on the victim's next action).
    */
  final class PinScope private[Stage] () {
    private[Stage] val paths =
      new java.util.concurrent.ConcurrentLinkedQueue[String]()
    /** Pins this scope still tracks (created, not yet dropped). */
    private[graft] def size: Int = paths.size
    // close()/clear() must run on the thread that opened the scope —
    // the ThreadLocal can only be removed there. A cross-thread clear
    // would silently leave the opener's ThreadLocal set, making its
    // next open() throw "scope already open" with no visible cause, so
    // the misuse is asserted at the clear site instead.
    private[Stage] val opener: Thread = Thread.currentThread()
  }

  private val globalScope = new PinScope
  private val scopeOf = new ThreadLocal[PinScope]
  // pins mid-materialization (the write at [[pin]] started, not yet
  // registered): [[clear]] warns when it races one
  private val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Open a pin scope on the CURRENT thread: subsequent [[pin]] calls
    * from this thread register to the returned scope until [[close]].
    * Pins from other threads (streaming micro-batch workers, parallel
    * builds that did not open their own scope) keep falling back to the
    * JVM-global scope and are only reclaimed by the global
    * `clear(spark)`.
    */
  def open(): PinScope = {
    require(scopeOf.get == null,
      "Stage.open: a pin scope is already open on this thread")
    val s = new PinScope
    scopeOf.set(s)
    s
  }

  /** Close the current thread's scope WITHOUT deleting its pins (use
    * when ownership transfers — e.g. a build whose pins outlive the
    * builder).
    */
  def close(scope: PinScope): Unit = {
    require(Thread.currentThread() eq scope.opener,
      "Stage.close/clear must run on the thread that opened the scope " +
        s"(opened on '${scope.opener.getName}', called from " +
        s"'${Thread.currentThread().getName}') - the opener's " +
        "ThreadLocal cannot be cleared from here")
    if (scopeOf.get eq scope) scopeOf.remove()
  }

  /** Delete exactly `scope`'s pins and close the scope. */
  def clear(spark: SparkSession, scope: PinScope): Unit = {
    close(scope)
    drain(spark, scope.paths)
  }

  /** Delete every GLOBALLY-scoped pin this JVM has created so far — the
    * unit-of-work boundary of the un-scoped pin lifecycle. Pins are
    * UUID-fresh per [[pin]] call and are never reused across queries, so
    * without this a long-lived process (a multi-pass bench, a query
    * server, a cluster job with `graft.stage.dir` on shared storage —
    * where the local temp-dir shutdown hook does not apply) accumulates
    * corpus-scale parquet indefinitely. Call at job/pass boundaries
    * ONLY, and only under sequential execution: any still-alive
    * DataFrame that reads a cleared pin will fail on next use —
    * CONCURRENT query builds must each [[open]] their own [[PinScope]]
    * and clear that instead. A clear racing another pin's
    * materialization is detected and logged (the in-flight pin itself is
    * safe — it registers only after its write completes — but its owner
    * plainly did not expect the boundary). Tracked-path deletion (not a
    * recursive base-dir wipe) so a shared `graft.stage.dir` loses
    * exactly this job's pins.
    */
  def clear(spark: SparkSession): Unit = {
    val racing = inFlight.get
    if (racing > 0)
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"Stage.clear while $racing pin(s) are mid-" +
        "materialization: concurrent unit-of-work detected - those " +
        "pins' owners should use Stage.open()/clear(spark, scope)")
    drain(spark, globalScope.paths)
  }

  private def drain(spark: SparkSession,
      q: java.util.Queue[String]): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    var p = q.poll()
    while (p != null) {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(conf).delete(hp, true)
      p = q.poll()
    }
  }
}
