package graft.core

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scratch-parquet staging for corpus-scale intermediates.
  *
  * A `localCheckpoint` stages a frame in block storage, which is right
  * for most of this engine's materialize-once seams — but it has two
  * costs that bite exactly at audit scale. The blocks are serialized
  * rows (2–4× the bytes of columnar snappy parquet), and the producing
  * job's SHUFFLE FILES stay on disk until the JVM garbage-collects
  * their `ShuffleDependency` objects — which it cannot do while any
  * live reference (the caller's own frame bindings, the lazy
  * checkpoint's capture of its producer) still reaches them. At the
  * round-11 1000× audit, ~20 GB of dead TF-IDF-build shuffle files
  * survived release + GC nudges and starved the box (q63 died on disk
  * three times before this seam existed).
  *
  * Writing the frame to scratch parquet and reading it back severs
  * that chain mechanically: the write is an action whose entire query
  * execution becomes unreachable the moment it returns, so the
  * producer's shuffle files reap on the next GC tick, and the re-read
  * is a fresh scan with no upstream lineage at all. This is also the
  * shape a real cluster uses for a 100-TB intermediate — distributed
  * storage between stages, not executor block memory.
  *
  * Files live under the JVM temp dir, one root per Spark application,
  * deleted by a shutdown hook (one frame early via [[drop]]).
  */
object Staging {
  private val counter = new AtomicLong()
  @volatile private var hooked: Option[Path] = None
  // staged-frame → its directory, for targeted early reclaim ([[drop]]);
  // identity keys — the mapping is about the exact returned handle
  private val dirs =
    new java.util.IdentityHashMap[DataFrame, Path]()

  private def root(spark: SparkSession): Path = synchronized {
    hooked.getOrElse {
      val p = Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp"),
        s"graft-scratch-${spark.sparkContext.applicationId}")
      Files.createDirectories(p)
      Runtime.getRuntime.addShutdownHook(new Thread(() => deleteTree(p)))
      hooked = Some(p)
      p
    }
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => { Files.deleteIfExists(f); () })
    }

  /** Materialize `df` to scratch parquet and return a fresh scan of
    * it. The returned frame owns no lineage into the producer, so the
    * producer's shuffle files become reapable immediately; the parquet
    * bytes are reclaimed at JVM exit (or via [[drop]]).
    *
    * Note the read-back widens every field to nullable (parquet scans
    * always do) — values are identical; callers relying on
    * non-nullable schema metadata should not route through this seam.
    */
  def scratchParquet(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val dir = root(spark).resolve(s"s${counter.incrementAndGet()}")
    df.write.mode("overwrite").parquet(dir.toString)
    val scan = spark.read.parquet(dir.toString)
    synchronized { dirs.put(scan, dir); () }
    scan
  }

  /** Reclaim ONE staged frame's bytes early — for a stage that a later
    * stage has superseded (e.g. a staged input whose derived index is
    * itself staged: nothing will ever scan the input again, but its
    * parquet would otherwise hold disk until JVM exit). `df` must be
    * the exact handle [[scratchParquet]] returned, and no plan built on
    * it may still run — the files are gone on return. Unknown handles
    * are a no-op (idempotent; frames from other sources are never
    * touched).
    */
  def drop(df: DataFrame): Unit = {
    val dir = synchronized(Option(dirs.remove(df)))
    dir.foreach(deleteTree)
  }
}
