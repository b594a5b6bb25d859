package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Storage-layout maintenance: small-file compaction. Streaming sinks,
  * per-trigger upserts, and over-parallel writers leave thousands of
  * KB-scale files per partition; at 100 TB the resulting
  * footer/open/list overhead dominates scan time (every file costs a
  * driver listing entry plus a task). Compaction rewrites a dataset
  * into ~`targetBytes` files by estimating the current on-disk size
  * from the source files and repartitioning to ceil(size/target).
  *
  * The rewrite goes to a NEW directory (write-audit-publish): never
  * rewrite in place — a failed in-place overwrite destroys the input.
  * Publishing (atomic rename / metastore swap) is the caller's move.
  */
object Layout {

  /** Estimated on-disk bytes of the files backing `df` (best effort:
    * sums `inputFiles` lengths via the Hadoop FS).
    */
  def inputBytes(df: DataFrame): Long = {
    val spark = df.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    df.inputFiles.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(conf).getFileStatus(p).getLen
    }.sum
  }

  /** Compact the parquet dataset at `srcDir` into ~`targetBytes` files
    * at `destDir`. Returns the file count written.
    */
  def compactParquet(
      spark: SparkSession, srcDir: String, destDir: String,
      targetBytes: Long = 128L * 1024 * 1024): Long = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val df = spark.read.parquet(srcDir)
    val nFiles = math.max(1L, (inputBytes(df) + targetBytes - 1) / targetBytes)
    df.repartition(nFiles.toInt).write.mode(SaveMode.ErrorIfExists).parquet(destDir)
    spark.read.parquet(destDir).inputFiles.length.toLong
  }

  /** Declarative compaction PLAN over shard metadata: assign each
    * partition's shards (files, trigger outputs, daily directories) to
    * ~`targetBytes` merge groups, in shard order, via the exclusive
    * running byte offset — bin = offset div target, so consecutive
    * shards land in the same bin until it fills. This is the planning
    * half of [[compactParquet]] expressed as a dataset operator:
    * metadata-grain input (one row per shard, millions at most), so it
    * runs anywhere, and the output is the work list a rewrite job
    * fans out over.
    *
    * Contiguous-by-order packing (not first-fit-decreasing) is
    * deliberate: compacted files preserve the shard order (time
    * locality → partition pruning still works after the rewrite), and
    * the assignment is a pure window function — deterministic,
    * engine-reproducible, no driver-side loop. The window partitions
    * by the table partition (per-directory compaction, as real
    * lakehouse maintenance does), never globally. `orderCol` must be
    * unique within a partition (it names the shard).
    *
    * All arithmetic is integer (BIGINT running sums, integer div), so
    * the plan is bit-identical across engines.
    */
  def compactionPlan(
      shards: DataFrame, partitionCol: String, orderCol: String,
      bytesCol: String, targetBytes: Long): DataFrame = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(partitionCol).orderBy(orderCol)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    shards
      .withColumn("__off", coalesce(sum(col(bytesCol).cast("long")).over(w), lit(0L)))
      .withColumn("bin", expr(s"__off div ${targetBytes}"))
      .groupBy(col(partitionCol), col("bin"))
      .agg(count(lit(1)).as("n_shards"),
        sum(col(bytesCol).cast("long")).as("bin_bytes"),
        min(col(orderCol)).as("first_shard"), max(col(orderCol)).as("last_shard"))
  }

  /** Morton (Z-order) interleave of two pre-bucketed non-negative
    * values: bit i of `a` lands at position 2i+1, bit i of `b` at 2i.
    * Pure bit arithmetic — codegen'd shifts/ors, no UDF.
    */
  def mortonInterleave(a: Column, b: Column, bits: Int): Column =
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i + 1))
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i))
    }

  /** Z-ORDER CLUSTERING — multi-dimension file skipping. Sorting a
    * table by column A makes every file a tight A-range (min/max stats
    * prune A-predicates at file/row-group granularity) but leaves B
    * spanning the whole domain in every file, so B-predicates scan
    * everything. Interleaving the bits of both columns' normalized
    * bucket numbers gives a 1-D sort key along a space-filling curve:
    * each file covers a tight Z-range ⇒ a small rectangle in (A, B)
    * space ⇒ BOTH columns' file-level min/max stay narrow, and
    * predicates on EITHER column skip most files. This is the layout
    * lever for 100-TB tables queried on two axes (e.g. time × user);
    * LayoutSpec measures the skip rate from the written files' actual
    * min/max ranges.
    *
    * Buckets are equi-width from a 1-row min/max aggregate (broadcast;
    * heavy skew would want equi-depth ranks — a sorted-sample variant —
    * but equi-width needs no second pass). The z-column is dropped from
    * the written data; `repartitionByRange` + in-partition sort makes
    * each output file one contiguous z-run.
    */
  /** Z-curve TILE SUMMARY — the oracle-certifiable half of z-order
    * clustering: bucket two integral columns equi-width ALL-INTEGER
    * (((x − min) · scale) div (max − min); degenerate max == min → 0),
    * Morton-interleave the bucket bits, and aggregate per `2^tileShift`
    * z-range tile (count + min/max z). This is exactly the per-file
    * min/max picture [[writeZOrdered]] produces on disk, as a query —
    * each tile is a small rectangle in (A, B) space, so the tile
    * histogram shows the clustering a z-ordered layout would give,
    * and every op is integer shift/or/div — bit-identical in any
    * engine.
    *
    * Shape: 1-row min/max aggregate broadcast back (no fact shuffle),
    * per-row codegen'd bit math, one groupBy(tile). Overflow bound:
    * (x − min) · scale must fit a BIGINT — fine for key domains up to
    * ~2^45 at bits = 16.
    */
  def zTileSummary(
      df: DataFrame, colA: String, colB: String, bits: Int,
      tileShift: Int): DataFrame = {
    require(bits >= 1 && bits <= 20, s"bits in [1,20], got $bits")
    require(tileShift >= 0 && tileShift < 2 * bits,
      s"tileShift in [0, ${2 * bits}), got $tileShift")
    val scale = (1L << bits) - 1
    val mm = df.agg(
      min(col(colA)).cast("long").as("__amin"), max(col(colA)).cast("long").as("__amax"),
      min(col(colB)).cast("long").as("__bmin"), max(col(colB)).cast("long").as("__bmax"))
    def bucket(c: String, lo: String, hi: String): Column =
      when(col(hi) > col(lo),
        expr(s"(($c - $lo) * ${scale}L) div ($hi - $lo)")).otherwise(lit(0L))
    df.select(col(colA).cast("long").as("__a"), col(colB).cast("long").as("__b"))
      .filter(col("__a").isNotNull && col("__b").isNotNull)
      .crossJoin(mm)
      .withColumn("__z", mortonInterleave(
        bucket("__a", "__amin", "__amax"),
        bucket("__b", "__bmin", "__bmax"), bits))
      .groupBy(shiftright(col("__z"), tileShift).as("tile"))
      .agg(count(lit(1)).as("n"),
        min(col("__z")).as("z_min"), max(col("__z")).as("z_max"))
  }

  def writeZOrdered(
      df: DataFrame, colA: String, colB: String, destDir: String,
      nFiles: Int, bits: Int = 10): Unit = {
    require(nFiles >= 1 && bits >= 1 && bits <= 20, s"bad nFiles=$nFiles/bits=$bits")
    val mm = df.agg(
      min(col(colA)).as("__amin"), max(col(colA)).as("__amax"),
      min(col(colB)).as("__bmin"), max(col(colB)).as("__bmax"))
    val scale = (1L << bits) - 1
    def bucket(c: Column, lo: Column, hi: Column): Column =
      least(lit(scale), greatest(lit(0L), floor(
        (c.cast("double") - lo.cast("double")) /
          ((hi.cast("double") - lo.cast("double")) / lit(scale.toDouble) + lit(1e-12))
      ).cast("long")))
    df.crossJoin(mm)
      .withColumn("__z", mortonInterleave(
        bucket(col(colA), col("__amin"), col("__amax")),
        bucket(col(colB), col("__bmin"), col("__bmax")), bits))
      .drop("__amin", "__amax", "__bmin", "__bmax")
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode(SaveMode.ErrorIfExists).parquet(destDir)
  }

  /** Dense global sequence numbers 1..n over a TOTAL order, without
    * ever forming a single-partition global window (the WindowExec
    * "moving all data to a single partition" trap): range-partition +
    * in-partition sort, rank WITHIN each partition, then add per-
    * partition offsets — an exclusive prefix sum over the ≤P-row
    * partition-count aggregate (the GraphWalk.negativeSamples offsets
    * idiom), broadcast back. The result depends only on the total
    * order, not on partition boundaries, so it is deterministic across
    * cluster configs and AQE decisions.
    *
    * `order` MUST be a total order (ties would make ranks
    * partition-order-dependent); callers pass a key-complete column
    * list. The frame is localCheckpoint'd after partition ids are
    * stamped so the count branch and the rank branch cannot see
    * different range boundaries (the multi-consumer discipline).
    *
    * 100-TB shape: one range exchange (the distributed sort Spark
    * would run for any global orderBy), one hash exchange on the
    * partition id for the local rank window (P keys, partition-sized
    * groups — parallelism preserved), one broadcast of the ≤P-row
    * offset table. Nothing single-partition, nothing driver-side.
    */
  def globalDenseSeq(
      df: DataFrame, order: Seq[Column], outCol: String): DataFrame =
    globalRunningSum(df, order, lit(1L), outCol)

  /** Global INCLUSIVE running sum of `value` over a TOTAL order —
    * the [[globalDenseSeq]] machinery generalized (dense seq = the
    * running sum of 1): range-partition + in-partition running-sum
    * window + an exclusive prefix sum over the ≤P-row per-partition
    * totals, broadcast back. Same contract: `order` must be total,
    * result depends only on the order, never on partition boundaries.
    * One shared implementation so the subtle parts (the checkpoint
    * pinning partition ids, the exclusive-offset window, the
    * broadcast) live in one place (review finding).
    */
  def globalRunningSum(
      df: DataFrame, order: Seq[Column], value: Column,
      outCol: String): DataFrame = {
    require(order.nonEmpty, "order columns required")
    val ranged = df.repartitionByRange(order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("__pid", spark_partition_id().cast("long"))
      .localCheckpoint()
    val offs = ranged.groupBy("__pid")
      .agg(sum(value.cast("long")).as("__n"))
      .withColumn("__off",
        coalesce(sum(col("__n")).over(org.apache.spark.sql.expressions.Window
          .orderBy("__pid")) - col("__n"), lit(0L)))
      .select("__pid", "__off")
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy("__pid").orderBy(order: _*)
    ranged.join(offs, Seq("__pid"))
      .withColumn(outCol,
        (col("__off") + sum(value.cast("long")).over(wLocal)).cast("long"))
      .drop("__pid", "__off")
  }

  /** ZONE-MAP file-skipping plan — the manifest-tier scan planner
    * (Iceberg/Delta manifest pruning, the layer ABOVE parquet's
    * row-group statistics): given a file manifest (file, partition
    * value, per-file min/max of a sort/zone column, row count) and a
    * query shape (partition IN set, zone BETWEEN lo AND hi), classify
    * every file:
    *
    *   - `partition_pruned`: partition value not in the query's set
    *     (checked FIRST — real engines prune partitions before
    *     opening any column statistics)
    *   - `skip`:  zone range disjoint from [lo, hi] (max < lo or
    *     min > hi; bounds INCLUSIVE on the query side)
    *   - `full`:  zone range CONTAINED in [lo, hi] — the file can be
    *     scanned without evaluating the predicate per row
    *   - `scan`:  partial overlap — read + filter
    *
    * This is what makes a 100-TB table queryable: with a sorted/
    * Z-ordered layout ([[zorderTiles]], [[compactionPlan]] feed this),
    * a selective range touches O(matching) files of O(total). The plan
    * itself is a pure projection over the manifest — metadata-scale,
    * never touches data files. Files with NULL zone stats fall
    * through every pruning branch to `scan` — the safe fallback (a
    * file you cannot prove skippable must be read). A NULL PARTITION
    * value prunes: the query names a literal set, and NULL is not in
    * it (without the explicit isNull branch, `!isin` evaluates NULL —
    * not true — and a null-partition file could fall through to
    * `full`, asserting a predicate-free scan for a file the partition
    * filter excludes; review finding).
    */
  def fileSkipPlan(
      manifest: DataFrame, fileCol: String, partCol: String,
      minCol: String, maxCol: String, rowsCol: String,
      parts: Seq[String], lo: Long, hi: Long): DataFrame = {
    require(parts.nonEmpty && lo <= hi,
      s"bad plan shape: parts=${parts.size} range=[$lo,$hi]")
    manifest.select(col(fileCol), col(partCol), col(minCol), col(maxCol),
      col(rowsCol),
      when(col(partCol).isNull || !col(partCol).isin(parts: _*),
        lit("partition_pruned"))
        .when(col(maxCol) < lo || col(minCol) > hi, lit("skip"))
        .when(col(minCol) >= lo && col(maxCol) <= hi, lit("full"))
        .otherwise(lit("scan")).as("decision"))
  }
}
