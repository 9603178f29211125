package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Registry slice base: the Q record every slice's entries are made of
  * plus cross-family helpers. The per-family slices chain linearly
  * (each extends the previous) purely so that shared private helpers
  * stay visible in source order, exactly as in the single-file form
  * they were split from (r12); [[SparkEntry]] mixes in the last slice
  * and assembles the registry. */
private[graft] trait QueriesBase {

  private[graft] case class Q(name: String,
                       fn: (SparkSession, String) => DataFrame,
                       sql: Option[String])

  /** Exact 2-dp decimal view of a double money/quantity column. */
  private[graft] def dec(c: Column): Column = c.cast(DecimalType(12, 2))

  /** Temp directory that is recursively deleted on JVM exit — for
    * query-local fixture/artifact dirs (the memoized per-(JVM, sf dir)
    * pattern), which otherwise accumulate under /tmp across bench and
    * verify runs. */
  private[graft] def scopedTempDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try {
        java.nio.file.Files.walk(dir)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
      } catch { case _: Throwable => () }))
    dir.toString
  }

  /** Disk-backed artifact cache (r17, VERDICT #7): build once, serve
    * across JVMs — the q151/q182 index-as-artifact discipline applied
    * to the memoized closure family, which a per-JVM temp dir forced
    * every new JVM to rebuild. The cache key is (artifact version,
    * staleness fingerprint of the source table's files): changed data
    * produces a new key and the stale sibling keys are swept
    * best-effort; CHANGED BUILDER LOGIC must bump `version`, the one
    * thing the data fingerprint cannot see. Keys live under a
    * PER-SOURCE-DIR parent (`name/src-<pathhash>/`), so the sweep only
    * ever removes superseded keys of the SAME source dir — one run
    * alternating between SF dirs (the bench primary pass at sf0.1, its
    * scaling pass at sf0.01) must not delete the other dir's live
    * artifact out from under a memoized path. Crash/race-safe: the build
    * lands in a dot-staged dir and RENAMES into place — if a concurrent
    * builder won the rename, its identical (deterministic build)
    * artifact is served and the staging dir is dropped. Serving
    * requires _SUCCESS, so a torn build is never read. Root overridden
    * with SPARK_GRAFT_ARTIFACT_DIR (a shared filesystem path in a
    * multi-node deployment). */
  private[graft] def diskCachedArtifact(name: String, version: Int,
                                        sourceDir: String,
                                        sourceTable: String)
                                       (build: String => Unit): String = {
    val root = sys.env.getOrElse("SPARK_GRAFT_ARTIFACT_DIR",
      System.getProperty("java.io.tmpdir") + "/graft_artifacts")
    val key = s"v$version-" +
      Tables.sourceFingerprint(s"$sourceDir/$sourceTable.parquet")
    val srcScope = "src-" + String.format("%08x",
      Int.box(scala.util.hashing.MurmurHash3.stringHash(
        new java.io.File(sourceDir).getAbsolutePath)))
    val parent = new java.io.File(new java.io.File(root, name), srcScope)
    val target = new java.io.File(parent, key)
    if (new java.io.File(target, "_SUCCESS").exists()) target.toString
    else {
      parent.mkdirs()
      // sweep stale keys of THIS source dir only (old data fingerprints
      // / old versions); the build below replaces them. Two classes get
      // grace:
      //   - dot-prefixed entries are ANOTHER BUILDER'S in-flight staging
      //     dirs — deleting one mid-write tears a concurrent build
      //     (worst case: after its job commit wrote _SUCCESS but before
      //     its rename, committing a torn artifact); swept only once
      //     old enough that the writer is certainly dead;
      //   - the NEWEST committed sibling key survives one supersession
      //     cycle: a concurrently RUNNING JVM's memoized path most
      //     likely points at it, and an immediate delete would fail its
      //     in-flight reads — it goes when the cycle after next builds.
      val staleStagingMs = 60L * 60 * 1000
      val siblings = Option(parent.listFiles()).toSeq.flatten
        .filter(d => d.isDirectory && d.getName != key)
      val newestCommitted = siblings
        .filter(d => !d.getName.startsWith(".") &&
          new java.io.File(d, "_SUCCESS").exists())
        .sortBy(_.lastModified()).lastOption
      siblings
        .filter(d =>
          if (d.getName.startsWith("."))
            // age by the NEWEST mtime anywhere under the staging dir
            // (ADVICE r17): a long-running concurrent build writes into
            // SUBDIRECTORIES without refreshing the top-level mtime, so
            // keying the grace on the top dir alone could tear a live
            // build that simply outlasts the threshold — any part-file
            // or _temporary entry written within the window keeps it
            System.currentTimeMillis() -
              FsUtil.newestMtimeRecursively(d) > staleStagingMs
          else !newestCommitted.map(_.getName).contains(d.getName))
        .foreach(FsUtil.deleteRecursively)
      // a TORN target (crashed build: dir present, no _SUCCESS) blocks
      // the rename — remove it; re-check _SUCCESS first so a build that
      // committed since the entry check is never deleted
      if (target.exists() &&
        !new java.io.File(target, "_SUCCESS").exists())
        FsUtil.deleteRecursively(target)
      val staging = new java.io.File(parent,
        s".build-${java.util.UUID.randomUUID}")
      build(staging.toString)
      if (!staging.renameTo(target)) {
        require(new java.io.File(target, "_SUCCESS").exists(),
          s"artifact cache rename failed and no committed artifact " +
            s"exists at $target")
        FsUtil.deleteRecursively(staging)
      }
      target.toString
    }
  }

  /** DuckDB form of VectorFunctions.hyperplaneBucket over the same fixed
    * coefficients: integer-valued plane entries make every product exact,
    * and `t1 + t2 + ...` associates left like the Scala dot loop. */
  private[graft] def duckHyperplaneBucket(e: String, tbl: Int, bits: Int): String = {
    val bitExprs = (0 until bits).map { i =>
      val plane = graft.functions.VectorFunctions.HyperPlanes(tbl * bits + i)
      // COALESCE: embeddings shorter than the 64-dim plane contribute 0
      // for the missing dims, matching the Scala dot's min-length loop
      // (without it one NULL index would null the whole sum and collapse
      // every bucket to 0)
      val dot = plane.zipWithIndex.map { case (c, j) =>
        s"COALESCE(CAST($e[${j + 1}] AS DOUBLE),0.0)*(${c.toDouble})"
      }.mkString(" + ")
      s"(CASE WHEN $dot > 0 THEN ${1L << i} ELSE 0 END)"
    }
    "CAST(" + bitExprs.mkString(" + ") + " AS BIGINT)"
  }
}

/** Driver-side job overlap (guide §2.6 "overlap independent jobs"):
  * Spark's scheduler happily runs several jobs at once inside one
  * application — actions are only sequential because driver code calls
  * them sequentially. Composite queries that build INDEPENDENT legs
  * (the four multimodal edge families, a data card's per-source
  * diagnostics, three tokenizer trainings) each materialize their leg
  * eagerly (localCheckpoint), and calling those constructions one after
  * another serializes jobs that share no dependency — on the bench box
  * each leg leaves most cores idle, and on a cluster the tail of one
  * leg's last stage would idle executors the next leg could back-fill.
  * `eval` runs the thunks on a small fixed pool so their jobs
  * interleave; results return in input order.
  *
  * The pool's threads are created by the calling thread, so each leg
  * inherits its Spark local properties: the job group a streaming
  * query's stop cancels, and `streaming.sql.batchId`. The legs' jobs
  * also carry a job tag of this call. The first leg to fail, in
  * completion order, stops the others: their jobs are cancelled by that
  * tag and their threads interrupted. `eval` then waits until every leg
  * has ended and rethrows that first failure, so no leg outlives the
  * call. An interrupt of the calling thread stops the legs the same way
  * and is rethrown as the failure. */
private[graft] object Par {
  def eval[A](thunks: Seq[() => A], parallelism: Int = 4): Seq[A] =
    if (thunks.sizeIs <= 1) thunks.map(_())
    else {
      import java.util.concurrent._
      val sc = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
        .map(_.sparkContext)
      val tag = s"graft-par-${java.util.UUID.randomUUID()}"
      def cancelJobs(): Unit = sc.foreach(_.cancelJobsWithTag(tag))
      val pool = Executors.newFixedThreadPool(math.min(parallelism, thunks.size))
      val done = new ExecutorCompletionService[A](pool)
      val legs = thunks.map { th =>
        done.submit { () =>
          sc.foreach(_.addJobTag(tag))
          try th() finally sc.foreach(_.removeJobTag(tag))
        }
      }
      var failure: Throwable = null
      try {
        var left = legs.size
        while (left > 0 && failure == null) {
          left -= 1
          try done.take().get()
          catch { // surface the leg's own failure, not the wrapper
            case e: ExecutionException => failure = Option(e.getCause).getOrElse(e)
          }
        }
      } catch { case e: InterruptedException => failure = e }
      if (failure != null) { cancelJobs(); pool.shutdownNow(); () }
      else pool.shutdown()
      // wait for every leg, even when interrupted meanwhile
      var interrupted = false
      var ended = false
      while (!ended)
        try ended = pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
        catch { case _: InterruptedException => interrupted = true }
      if (interrupted) Thread.currentThread().interrupt()
      if (failure != null) {
        cancelJobs() // a job a leg submitted between the cancel and its interrupt
        throw failure
      }
      legs.map(_.get())
    }
}

/** Filesystem helpers shared by the registry's artifact cache and the
  * standalone throughput mains (one recursive delete, not a copy per
  * caller). */
private[graft] object FsUtil {
  /** Newest lastModified found anywhere under `f` (including `f`
    * itself) — the liveness signal of an in-flight staged build, whose
    * writes land in subdirectories without touching the top dir's
    * mtime. Never follows symlinks (same rule as the delete below). */
  def newestMtimeRecursively(f: java.io.File): Long = {
    val own = f.lastModified()
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      (own +: Option(f.listFiles()).toSeq.flatten
        .map(newestMtimeRecursively)).max
    else own
  }

  def deleteRecursively(f: java.io.File): Unit = {
    // never recurse THROUGH a symlink: File.isDirectory resolves links,
    // so a planted/stale link inside a swept cache dir would otherwise
    // have its TARGET's contents deleted — unlink the link itself only
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete(); ()
  }
}
