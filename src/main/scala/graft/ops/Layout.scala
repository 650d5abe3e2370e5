package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Physical-layout planning: Z-ORDER (Morton) interleaving — the
  * space-filling-curve clustering key behind multi-dimensional data
  * skipping (`OPTIMIZE ZORDER BY` in table formats): rows sorted by the
  * bit-interleaved image of two keys land so that every file/bucket covers
  * a NARROW range of BOTH keys at once, so min/max file stats prune scans
  * filtered on either dimension — where a plain sort on one key leaves the
  * other's per-file range at full width.
  *
  * Pure per-row bit arithmetic (shifts/masks — codegen'd, no shuffle); the
  * clustering itself is whatever write pattern consumes the column
  * (`repartitionByRange(zCol)` + sortWithinPartitions at 100 TB).
  */
object Layout {

  /** Morton interleave of the low `bits` bits of `a` (even positions) and
    * `b` (odd positions) — non-overlapping powers so + ≡ bitwise-or,
    * which keeps the expression portable arithmetic. */
  def zValue(a: Column, b: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits: $bits")
    (0 until bits).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)
  }

  /** The data-skipping audit for a prospective Z-order layout: bucket rows
    * by the high bits of their z-value (`bucket = z >> bucketShift` — a
    * contiguous Morton-curve segment ≈ one output file) and report each
    * bucket's row count and BOTH keys' min/max spans. Narrow spans on both
    * dimensions are exactly what lets file-level min/max stats prune —
    * this table is the evidence a layout decision reads, and its oracle is
    * plain arithmetic.
    */
  def zOrderStats(df: DataFrame, aCol: String, bCol: String, bits: Int,
                  bucketShift: Int): DataFrame = {
    require(bucketShift >= 0 && bucketShift < 2 * bits,
      s"bucketShift: $bucketShift")
    // long arithmetic throughout: an int input would overflow at shift 31
    df.select(col(aCol), col(bCol),
        zValue(col(aCol).cast("long"), col(bCol).cast("long"), bits).as("z"))
      .groupBy(shiftright(col("z"), bucketShift).as("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col(aCol)).as(s"min_a"), max(col(aCol)).as(s"max_a"),
        min(col(bCol)).as(s"min_b"), max(col(bCol)).as(s"max_b"))
      .withColumn("span_a", col("max_a") - col("min_a"))
      .withColumn("span_b", col("max_b") - col("min_b"))
  }

  /** Bucketed-table write path — the exchange-elimination lever for the
    * REPEATED-join workloads this engine runs over the same fact table
    * (the `q_basket_lift`/`q_label_prop` lineitem self-join family, every
    * orderkey-keyed fact⋈fact): `bucketBy(n, key)` hash-partitions rows
    * into `n` files per write-partition at WRITE time, and every later
    * scan reports `HashPartitioning(key, n)` to the planner — a
    * subsequent equi-join on `key` between tables bucketed with the same
    * count satisfies its required distribution from the layout and plans
    * with NO ShuffleExchange on either side (gated + byte-measured in
    * ShuffleVolumeSpec).
    *
    * 100 TB posture: the shuffle a bucketed layout removes is paid ONCE
    * at ingest instead of per query — the right trade exactly when a key
    * is joined repeatedly (co-purchase pair builds, fact⋈fact
    * enrichment). Size `buckets` so one bucket ≈ one executor-core task
    * at target scale (bytes/buckets ≲ maxPartitionBytes); both join
    * sides must use the SAME bucket count (Spark joins compatible-
    * partitioning scans only; mismatched counts re-shuffle one side).
    * `sortBy(key)` additionally persists per-file sort order, letting
    * the sort-merge join skip its SortExec when each bucket is one file.
    *
    * Bucketing metadata lives in the session catalog (`saveAsTable` —
    * Spark's bucket layout has no parquet-level footprint), so the
    * co-located plan needs the table read via `spark.table(table)`, not a
    * bare `spark.read.parquet(path)`; a production deployment records it
    * in the shared metastore/table format once at write time.
    */
  def writeBucketed(df: DataFrame, table: String, path: String,
                    bucketCol: String, buckets: Int,
                    sortCols: Seq[String] = Nil): Unit = {
    require(buckets >= 1, s"buckets: $buckets")
    val w = df.write.mode("overwrite")
      .bucketBy(buckets, bucketCol).option("path", path)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*)
     else w).saveAsTable(table)
  }

  /** Write `df` partitioned by `partCol` to `path` ONCE (skipped when the
    * write's `_SUCCESS` marker already exists) and return the path — the
    * derived partitioned-fixture lever behind the dynamic-partition-
    * pruning star join (`q_star_dpp`). A production table is partitioned
    * at INGEST and this function never runs; over the flat test fixtures
    * the partitioned copy is derived on first touch, so the gated surface
    * can exercise the exact directory-pruning path a date-partitioned
    * 100 TB fact table lives on. `df` is by-name: an existing copy costs
    * no plan construction.
    */
  def ensurePartitioned(df: => DataFrame, rawPath: String,
                        partCol: String, srcFp: String): String =
      deriveLock.synchronized {
    // absolute: the returned path is consumed by spark.read from
    // arbitrary callers, whatever their cwd
    val path = new java.io.File(rawPath).getAbsolutePath
    // re-derive when the SOURCE fingerprint moved, not just when the
    // marker is missing (ADVICE r16 — regenerated fixtures must not be
    // served from the stale derived copy)
    if (!java.nio.file.Files.exists(
        java.nio.file.Paths.get(path, "_SUCCESS")) || !fpMatches(path, srcFp)) {
      df.write.mode("overwrite").partitionBy(partCol).parquet(path)
      writeFp(path, srcFp)
    }
    path
  }

  /** Fingerprint of the source file(s) a derived fixture was built from:
    * SHA-256 over every regular file's (root-relative path, size,
    * nanosecond mtime), sorted, plus the file count — cheap (metadata
    * only, no reads), and any regeneration moves the mtime even when
    * sizes collide. Roots are canonicalized (absolute + normalized) and
    * files hashed RELATIVE to their root, so the same source dir passed
    * under a different spelling (relative vs absolute, trailing dots)
    * fingerprints identically instead of forcing a spurious re-derive;
    * nanosecond mtimes shrink the same-millisecond in-place-regeneration
    * blind spot (ADVICE r17). Stamped into the derived dir as
    * `_GRAFT_SRC_FP`; [[ensurePartitioned]] re-derives on mismatch.
    */
  def srcFingerprint(paths: String*): String = {
    import scala.jdk.CollectionConverters._
    val lines = paths.flatMap { p =>
      val root = java.nio.file.Paths.get(p).toAbsolutePath.normalize
      val files =
        if (java.nio.file.Files.isDirectory(root)) {
          val s = java.nio.file.Files.walk(root)
          try s.iterator().asScala.toVector
            .filter(java.nio.file.Files.isRegularFile(_))
          finally s.close()
        } else if (java.nio.file.Files.exists(root)) Vector(root)
        else Vector.empty
      files.map { f =>
        val rel =
          if (f == root) root.getFileName.toString
          else root.relativize(f).toString
        s"$rel:${java.nio.file.Files.size(f)}:" +
          s"${java.nio.file.Files.getLastModifiedTime(f)
            .to(java.util.concurrent.TimeUnit.NANOSECONDS)}"
      }
    }
    val digestInput = (lines.sorted :+ s"n=${lines.size}").mkString("\n")
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(digestInput.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.take(32)
  }

  private def fpFile(path: String) =
    java.nio.file.Paths.get(path, "_GRAFT_SRC_FP")

  private def fpMatches(path: String, fp: String): Boolean =
    try new String(java.nio.file.Files.readAllBytes(fpFile(path)),
      "UTF-8") == fp
    catch { case _: Throwable => false }

  private def writeFp(path: String, fp: String): Unit =
    java.nio.file.Files.write(fpFile(path), fp.getBytes("UTF-8"))

  /** Guards the check-then-write of the derive-once fixture helpers:
    * test suites share one JVM and run in parallel, so two suites
    * touching the same derived path must not race the overwrite. */
  private val deriveLock = new Object
}
