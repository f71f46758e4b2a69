package graft.sinks

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.cdc.PkTable

/** Incremental primary-key table maintenance on a parquet lake path —
  * the continuously-refreshed StarRocks PK table, minus the database:
  * each micro-batch of changes merges into the stored table
  * (latest-wins by version, deletes drop keys) and atomically replaces
  * it via a versioned directory + pointer file.
  *
  * Scale notes: the merge is `PkTable.snapshotMerge` — one shuffle of
  * (current ∪ changes) hashed by key. For 100 TB tables the same code
  * runs per-partition when the table is stored partitioned by a key
  * range/date (merge only partitions containing changed keys — the
  * caller filters); a transactional table format (Delta/Iceberg) slots
  * in by replacing [[commit]] with its own MERGE, with identical
  * semantics.
  */
object PkTableSink {

  // Commit pointers are versioned files (_CURRENT.v<N>): a commit is
  // one atomic rename to a NEW name, and the current version resolves
  // as max(N) — there is no delete-then-rename window in which a crash
  // could leave the table pointing at nothing. Single-writer protocol;
  // a multi-writer deployment swaps in a transactional table format.
  private val PtrPrefix = "_CURRENT.v"

  private def fsOf(spark: SparkSession, root: String) =
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Current table contents (empty frame with `schemaOf` if absent). */
  def read(spark: SparkSession, root: String, schemaOf: => DataFrame): DataFrame =
    currentVersion(spark, root) match {
      case Some(v) => graft.SchemaCache.read(spark, s"$root/v$v")
      case None    => schemaOf.limit(0)
    }

  def currentVersion(spark: SparkSession, root: String): Option[Long] = {
    val fs = fsOf(spark, root)
    val rootPath = new org.apache.hadoop.fs.Path(root)
    if (!fs.exists(rootPath)) return None
    val versions = fs.listStatus(rootPath).map(_.getPath.getName)
      .filter(_.startsWith(PtrPrefix))
      .flatMap(n => scala.util.Try(n.stripPrefix(PtrPrefix).toLong).toOption)
    if (versions.nonEmpty) Some(versions.max)
    else {
      // legacy layout: a single _CURRENT file whose CONTENT is the
      // version — still readable so pre-existing tables migrate on
      // their next commit
      val legacy = new org.apache.hadoop.fs.Path(root, "_CURRENT")
      if (!fs.exists(legacy)) None
      else {
        val in = fs.open(legacy)
        try Some(new String(in.readAllBytes(), "UTF-8").trim.toLong)
        finally in.close()
      }
    }
  }

  /** Merge one batch of keyed changes into the table and commit a new
    * version. Deletes are rows where deleteFlag evaluates true.
    * Re-applying the same batch is idempotent (latest-wins by version).
    */
  def merge(spark: SparkSession, root: String, changes: DataFrame,
            keyCols: Seq[String], versionCols: Seq[String], deleteFlag: String): Unit = {
    // the stored table never carries the delete flag; align schemas for
    // the union-based merge, then drop it again before writing
    val current = read(spark, root, changes.drop(deleteFlag))
      .withColumn(deleteFlag, lit(false))
    val merged = PkTable.snapshotMerge(current, changes,
      keyCols, versionCols.map(col), deleteFlag = col(deleteFlag))
      .drop(deleteFlag)
    val next = currentVersion(spark, root).getOrElse(-1L) + 1
    merged.write.mode(SaveMode.Overwrite).parquet(s"$root/v$next")
    commit(spark, root, next)
  }

  /** Lake maintenance: delete data version directories older than the
    * `keepVersions` most recent (current always kept). Old versions
    * exist for time travel / reader isolation; unbounded retention is
    * unbounded storage. Never touches pointers (crash-safe by the same
    * max(N)-resolution argument as [[commit]]); returns the versions
    * deleted.
    */
  def vacuum(spark: SparkSession, root: String, keepVersions: Int = 2): Seq[Long] = {
    require(keepVersions >= 1, "must keep at least the current version")
    val fs = fsOf(spark, root)
    val rootPath = new org.apache.hadoop.fs.Path(root)
    if (!fs.exists(rootPath)) return Nil
    val dataVersions = fs.listStatus(rootPath)
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("v"))
      .flatMap(n => scala.util.Try(n.drop(1).toLong).toOption)
      .sorted
    if (dataVersions.isEmpty) Nil
    else {
      val current = currentVersion(spark, root)
      val cutoff = dataVersions.takeRight(keepVersions).head
      val victims = dataVersions.filter(v => v < cutoff && !current.contains(v))
      victims.foreach(v => fs.delete(new org.apache.hadoop.fs.Path(root, s"v$v"), true))
      victims.toSeq
    }
  }

  /** Transactional multi-writer merge on a [[TxLog]]-backed table,
    * MERGE-ON-READ: a commit writes ONLY its batch (compacted to one
    * row per key) as a delta dir and claims the next log version with
    * a create-exclusive manifest carrying base + ordered deltas
    * forward. Readers apply latest-per-key over base ∪ deltas (the
    * manifest stores the key/version columns, so the log is
    * self-describing); [[compactTx]] folds deltas back into a fresh
    * base on a count trigger. Losing a commit race costs a rewrite of
    * the (batch-sized) delta, never a torn table or a lost batch.
    * Returns the committed version.
    *
    * Scale notes: commit I/O is proportional to the BATCH, not the
    * table — the copy-on-write alternative (re-merge + rewrite the
    * full snapshot per commit) is an O(table) read+write per
    * micro-batch, which no 100 TB table survives. The trade is a
    * read-time merge (one hash aggregation over base ∪ deltas), which
    * auto-compaction keeps bounded at `compactAfterDeltas` layers.
    * No global lock is ever held across the data write, only across
    * the (tiny) manifest create, so N concurrent writers serialize on
    * metadata, not on data I/O — the Delta/Iceberg deletion-vector /
    * StarRocks PK-table merge-on-read shape.
    */
  // tombstone marker persisted in TxLog-backed tables: concurrent
  // writers commit in arbitrary order relative to the VERSIONS they
  // carry, so the merge must be version-respecting (latestPerKey, not
  // the epoch-stamped snapshotMerge) and deletes must survive as
  // stored tombstones — otherwise a commit carrying an older insert
  // resurrects a key a newer version already deleted. Tombstones also
  // survive COMPACTION for the same reason.
  private val Tombstone = "__graft_deleted"
  // manifest meta keys persisting the merge configuration
  private val MetaKeys = "keys"
  private val MetaVers = "vers"
  // sidecar configuration carried in the manifest so maintenance
  // (auto-compaction) and reads keep pruning without re-passing it
  private val MetaBloom = "bloom"
  private val MetaStats = "stats"
  // the table's CURRENT column set (ordered, Tombstone excluded) —
  // grows on widening commits, never shrinks; commits missing a
  // stored column are refused (a whole-row latest-wins merge would
  // silently null the column on every key the commit touches)
  private val MetaCols = "cols"
  // per-commit layering order for the read-time merge: among EQUAL
  // versions of a key, the later commit wins (deterministic, where
  // copy-on-write tie-break was unspecified)
  private val CommitSeq = "__graft_commit_seq"

  private def metaOf(keyCols: Seq[String], versionCols: Seq[String]): Map[String, String] = {
    (keyCols ++ versionCols).foreach(c => require(
      !c.exists(ch => ch == ',' || ch == '=' || ch == '\n'),
      s"key/version column name '$c' unusable in a manifest"))
    Map(MetaKeys -> keyCols.mkString(","), MetaVers -> versionCols.mkString(","))
  }

  // partial-update deltas ([[mergeTxPartial]]) record their present
  // columns under this meta prefix; whole-row merge paths must refuse
  // such tables (a whole-row merge would read an absent column's null
  // as an explicit value)
  private val PcolsPrefix = "pcols."
  private def requireNoPartial(meta: Map[String, String], op: String): Unit =
    require(!meta.keys.exists(_.startsWith(PcolsPrefix)),
      s"$op: table has partial-update deltas outstanding — use " +
        "readTxPartial / compactTxPartial (or compact before whole-row ops)")

  private def emptyFrame(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  /** The schema of a layered dir list: the layer-ordered by-name union
    * of EVERY layer's [[graft.SchemaCache]] schema, with the type
    * widening an N-way `unionByName(allowMissingColumns = true)`
    * applies (a column committed as int, later as long, reads as
    * long). Resolved by analysing empty relations — no Spark job.
    * Layers a pruned read skips still count, so every read of a
    * WIDENED table (a later commit added a column; older dirs read it
    * as null — the ALTER TABLE ADD COLUMN default) returns the same
    * column set. Narrowing never reaches here (mergeTx refuses commits
    * missing a stored column). */
  private def layersSchema(spark: SparkSession, dirs: Seq[String]): StructType = {
    val schemas = dirs.map(graft.SchemaCache.schemaOf(spark, _)).distinct
    if (schemas.size == 1) schemas.head
    else schemas.map(emptyFrame(spark, _))
      .reduce(_.unionByName(_, allowMissingColumns = true)).schema
  }

  /** The files of an ordered layer list, each carrying its layer's
    * index as the constant partition value `CommitSeq`: the merge learns
    * a row's commit order from its file, at no per-row cost. Mapping
    * each row's `_metadata.file_path` back to its dir name instead made
    * a 4M-row, 33-layer merge 57-77% slower on 4 cores. The file list
    * is fixed when built, so the relation lists nothing on use. */
  private final class LayerFiles(layers: Seq[Seq[FileStatus]]) extends FileIndex {
    override val partitionSchema: StructType =
      StructType(Seq(StructField(CommitSeq, LongType, nullable = false)))
    private val parts = layers.zipWithIndex.collect { case (files, i) if files.nonEmpty =>
      PartitionDirectory(InternalRow(i.toLong), files.toArray) }
    override def listFiles(partitionFilters: Seq[Expression],
                           dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
      // Spark does not re-apply a partition filter after the scan; no
      // read filters on CommitSeq, so one showing up is a bug
      require(partitionFilters.isEmpty, s"unexpected filter on $CommitSeq: $partitionFilters")
      parts
    }
    override def rootPaths: Seq[Path] = layers.flatten.map(_.getPath)
    override def inputFiles: Array[String] = rootPaths.map(_.toUri.toString).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = layers.flatten.map(_.getLen).sum
  }

  /** Merge-on-read input: ONE parquet relation over every layer
    * `dirs(i)` — all its data files, or only those named in `kept(i)`
    * — read with [[layersSchema]]. One scan to plan and no per-layer
    * schema-inference job, where one frame per layer and an N-way union
    * cost a job per layer and driver time growing with the delta count.
    * With more than one layer each row carries `CommitSeq` = its
    * layer's index ([[LayerFiles]]). `project` narrows the columns read
    * (see [[readTxCols]]). None when every layer is pruned away. */
  private def scanLayers(spark: SparkSession, dirs: Seq[String],
                         kept: Option[Seq[Seq[String]]] = None,
                         project: Option[Seq[String]] = None): Option[DataFrame] = {
    val files = dirs.zipWithIndex.map { case (d, i) =>
      val names = kept.map(_(i).map(new Path(_).getName).toSet)
      if (names.exists(_.isEmpty)) Nil
      else fsOf(spark, d).listStatus(new Path(d)).toSeq.filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".") && names.forall(_(n))
      }
    }
    if (files.forall(_.isEmpty)) None
    else {
      val schema = layersSchema(spark, dirs)
      val index = new LayerFiles(files)
      val df = spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
        schema, None, new ParquetFileFormat, Map.empty)(spark))
      val cols = schema.fieldNames.toSeq
        .filter(c => project.forall(_.contains(c))).map(col)
      Some(df.select((if (dirs.size == 1) cols else cols :+ col(CommitSeq)): _*))
    }
  }

  private def latestLayer(df: DataFrame, keys: Seq[String], vers: Seq[String]): DataFrame =
    PkTable.latestPerKey(df, keys, vers.map(col) :+ col(CommitSeq)).drop(CommitSeq)

  /** Latest-per-key view of base ∪ deltas (tombstones retained), read
    * as one relation ([[scanLayers]]). Among equal versions of a key
    * the later layer wins. A `project`ion is applied at the scan, BELOW
    * the whole-row max_by: the latest-wins aggregate packs its payload
    * into one struct, which blocks Catalyst's column pruning — so the
    * narrow read must be requested here, where it reaches the parquet
    * scan (see readTxCols). */
  private def mergeDirs(spark: SparkSession, dirs: Seq[String],
                        meta: Map[String, String],
                        project: Option[Seq[String]] = None): DataFrame = {
    requireNoPartial(meta, "whole-row merge")
    val layers = scanLayers(spark, dirs, project = project).get
    if (dirs.size == 1) layers
    else {
      val keys = meta.get(MetaKeys).filter(_.nonEmpty).getOrElse(
        throw new IllegalStateException(
          "manifest has deltas but no stored key columns")).split(",").toSeq
      latestLayer(layers, keys, meta(MetaVers).split(",").toSeq)
    }
  }

  private def mergedTx(spark: SparkSession, m: TxLog.Manifest): DataFrame =
    mergeDirs(spark, m.dataDir +: m.deltas, m.meta)

  /** @param recoverTornAfterMs reclaim a crashed writer's torn
    *   manifest claim older than this before retrying (a live writer's
    *   create→content window is milliseconds; default 60 s is far past
    *   any real flush)
    * @param compactAfterDeltas fold deltas into a new base once this
    *   many layers accumulate (post-commit, its own transaction);
    *   `Int.MaxValue` disables — run [[compactTx]] as maintenance
    * @param bloomCols non-key columns to index with a per-file Bloom
    *   sidecar on EVERY written dir — deltas included, so point
    *   lookups ([[readTxPointOn]]) stay pruned while a hot table has
    *   deltas outstanding. Persisted in the manifest; later commits
    *   and auto-compaction inherit it when they pass Nil.
    * @param statsCols non-key columns recorded in every dir's zone-map
    *   sidecar (range-pruning twin of `bloomCols`, for
    *   [[readTxRangeOn]] on a delta-outstanding table); inherited the
    *   same way
    * @param bloomExpectedPerFile per-file Bloom capacity for DELTA
    *   dirs (batch-sized files — compaction sizes its own from
    *   `targetRowsPerFile`) */
  def mergeTx(spark: SparkSession, root: String, changes: DataFrame,
              keyCols: Seq[String], versionCols: Seq[String], deleteFlag: String,
              writer: String, maxAttempts: Int = 5,
              recoverTornAfterMs: Long = 60000L,
              compactAfterDeltas: Int = 32,
              bloomCols: Seq[String] = Nil,
              statsCols: Seq[String] = Nil,
              bloomExpectedPerFile: Long = 1L << 16): Long = {
    // one row per key per delta: read-time merge cost scales with keys
    // TOUCHED per commit, not rows ingested
    val chg = PkTable.latestPerKey(
      changes.withColumn(Tombstone, coalesce(col(deleteFlag), lit(false)))
        .drop(deleteFlag),
      keyCols, versionCols.map(col))
    val meta = metaOf(keyCols, versionCols)
    def sidecarMeta(prev: Map[String, String]): Map[String, String] = {
      // a commit passing Nil inherits the table's recorded sidecar
      // config instead of silently dropping it from the manifest
      val b = if (bloomCols.nonEmpty) Some(bloomCols.mkString(","))
              else prev.get(MetaBloom)
      val s = if (statsCols.nonEmpty) Some(statsCols.mkString(","))
              else prev.get(MetaStats)
      b.map(MetaBloom -> _).toMap ++ s.map(MetaStats -> _).toMap
    }
    def writeSidecars(dir: String, m: Map[String, String]): Unit = {
      ZoneMap.write(spark, dir,
        keyCols ++ m.get(MetaStats).map(_.split(",").toSeq).getOrElse(Nil))
      // the first key column rides along in every delta's bloom: a
      // sparse delta (keys scattered across the domain) zone-covers
      // almost any candidate range, but a POINT candidate can still be
      // bloom-rejected per file (see readTxPointOn pass 2)
      m.get(MetaBloom).foreach(bc =>
        BloomSidecar.write(spark, dir, (bc.split(",").toSeq :+ keyCols.head).distinct,
          bloomExpectedPerFile))
    }
    val batchCols = chg.columns.toSeq.filterNot(_ == Tombstone)
    batchCols.foreach(c => require(!c.exists(ch => ch == ',' || ch == '=' || ch == '\n'),
      s"column name '$c' unusable in a manifest"))
    val v = TxLog.commitWith(spark, root, writer, maxAttempts, recoverTornAfterMs) { base =>
      val next = base.map(_.version + 1).getOrElse(0L)
      // unique nonce: two writers (even misconfigured with the SAME
      // writer tag) can never share a snapshot dir, so the loser's
      // orphan cleanup can only ever delete its own files
      val nonce = java.util.UUID.randomUUID().toString.take(8)
      base match {
        case None =>
          val dataDir = s"$root/t$next-$writer-$nonce"
          chg.write.mode(SaveMode.Overwrite).parquet(dataDir)
          val fullMeta = meta ++ sidecarMeta(Map.empty) +
            (MetaCols -> batchCols.mkString(","))
          writeSidecars(dataDir, fullMeta)
          TxLog.Prepared(dataDir = dataDir, meta = fullMeta, written = Seq(dataDir))
        case Some(m) =>
          requireNoPartial(m.meta, "mergeTx") // meta replace would drop pcols
          m.meta.get(MetaKeys).foreach(k => require(k == meta(MetaKeys) &&
            m.meta(MetaVers) == meta(MetaVers),
            s"mergeTx key/version columns differ from the table's " +
              s"(stored keys=$k vers=${m.meta(MetaVers)})"))
          // SCHEMA EVOLUTION: the column set may WIDEN (new columns
          // append; older dirs read them as null — the ADD COLUMN
          // default) but never narrow — a whole-row commit missing a
          // stored column would null it on every touched key
          val stored = m.meta.get(MetaCols).map(_.split(",").toSeq).getOrElse(batchCols)
          val missing = stored.filterNot(batchCols.contains)
          require(missing.isEmpty,
            s"mergeTx: batch is missing stored columns ${missing.mkString(", ")} — " +
              "schema can widen, never narrow (use mergeTxPartial for column subsets)")
          val widened = stored ++ batchCols.filterNot(stored.contains)
          val deltaDir = s"$root/d$next-$writer-$nonce"
          chg.write.mode(SaveMode.Overwrite).parquet(deltaDir)
          val fullMeta = meta ++ sidecarMeta(m.meta) +
            (MetaCols -> widened.mkString(","))
          writeSidecars(deltaDir, fullMeta)
          TxLog.Prepared(dataDir = m.dataDir, deltas = m.deltas :+ deltaDir,
            meta = fullMeta, written = Seq(deltaDir))
      }
    }
    if (TxLog.current(spark, root).exists(_.deltas.size >= compactAfterDeltas))
      compactTx(spark, root, writer, minDeltas = compactAfterDeltas,
        maxAttempts = maxAttempts, recoverTornAfterMs = recoverTornAfterMs)
    v
  }

  private final case class CompactSkip(version: Long) extends RuntimeException

  /** Fold base + deltas into ONE fresh base dir, bin-packed to
    * `targetRowsPerFile` and RANGE-SORTED by the table's key columns —
    * each output file covers a disjoint key range, so parquet
    * column-index min/max stats prune point/range lookups to the files
    * that can match (the small-files cure and the sorted-layout
    * optimization in one rewrite). Tombstones are RETAINED: a later
    * commit may still carry an older version of a deleted key, and
    * only the stored tombstone stops its resurrection. Conflict-safe —
    * a retry re-reads the winner's manifest, so a concurrent delta
    * commit is folded in, never dropped.
    *
    * @param minDeltas skip (returning the current version, no commit)
    *   unless at least this many deltas are stacked — lets concurrent
    *   auto-compacting writers not compact twice */
  def compactTx(spark: SparkSession, root: String, writer: String,
                minDeltas: Int = 0, targetRowsPerFile: Long = 4L << 20,
                maxAttempts: Int = 5, recoverTornAfterMs: Long = 60000L,
                bloomCols: Seq[String] = Nil,
                bloomExpectedPerFile: Long = -1L): Long =
    try TxLog.commitWith(spark, root, writer, maxAttempts, recoverTornAfterMs) { base =>
      val m = requireSingleTable(base.getOrElse(throw new IllegalStateException(
        s"compactTx: no committed version under $root")), root)
      if (m.deltas.size < minDeltas) throw CompactSkip(m.version)
      val merged = mergedTx(spark, m)
      val next = m.version + 1
      val nonce = java.util.UUID.randomUUID().toString.take(8)
      val dataDir = s"$root/t$next-$writer-$nonce"
      // count pass sizes the bin-packing; compaction is already an
      // O(live keys) rewrite, one extra aggregate-only pass is noise
      val rows = merged.count()
      val nFiles = math.max(1L, (rows + targetRowsPerFile - 1) / targetRowsPerFile).toInt
      val keyCols = m.meta.get(MetaKeys).map(_.split(",").toSeq).getOrElse(Nil)
      val packed =
        if (keyCols.nonEmpty)
          merged.repartitionByRange(nFiles, keyCols.map(col): _*)
            .sortWithinPartitions(keyCols.map(col): _*)
        else merged.repartition(nFiles)
      packed.write.mode(SaveMode.Overwrite).parquet(dataDir)
      // sidecar config: explicit args win, else the manifest's record
      // (written by mergeTx) — auto-compaction keeps a bloom/stats
      // table pruned without re-passing the columns
      val effStats = m.meta.get(MetaStats).map(_.split(",").toSeq).getOrElse(Nil)
      val effBloom = if (bloomCols.nonEmpty) bloomCols
        else m.meta.get(MetaBloom).map(_.split(",").toSeq).getOrElse(Nil)
      ZoneMap.write(spark, dataDir, (keyCols ++ effStats).distinct)
      // default filter capacity = the packing target, so each per-file
      // filter is sized for the rows actually landing in it (a fixed
      // smaller default realizes ~25-30% fpp at 4M-row files)
      BloomSidecar.write(spark, dataDir, effBloom,
        if (bloomExpectedPerFile > 0) bloomExpectedPerFile else targetRowsPerFile)
      val keptMeta = m.meta ++
        (if (bloomCols.nonEmpty) Map(MetaBloom -> bloomCols.mkString(",")) else Map.empty)
      TxLog.Prepared(dataDir = dataDir, meta = keptMeta, written = Seq(dataDir))
    } catch { case CompactSkip(v) => v }

  /** [[compactTx]] variant that clusters the rewritten base in
    * Z-ORDER of two NUMERIC columns (Delta `OPTIMIZE ZORDER BY`
    * analogue, [[ZOrder]]): files then cover rectangles of the
    * (zCols(0), zCols(1)) space and the dir's zone-map sidecar records
    * min/max for the key AND both z columns, so a range read on EITHER
    * z column ([[readTxRangeOn]]) prunes to ~√F of F files — where
    * key-range-sorted compaction prunes only the first key column and
    * scans everything for the rest.
    *
    * The z-column bounds come from one aggregate-only scalar job over
    * the merged rows (maintenance path, same budget class as the
    * compaction's own sizing count). Merge/tombstone semantics are
    * identical to [[compactTx]] — clustering changes LAYOUT, never
    * content.
    */
  def compactTxZOrder(spark: SparkSession, root: String, writer: String,
                      zCols: Seq[String], minDeltas: Int = 0,
                      targetRowsPerFile: Long = 4L << 20,
                      maxAttempts: Int = 5,
                      recoverTornAfterMs: Long = 60000L): Long = {
    require(zCols.size >= 2 && zCols.size <= 4,
      s"z-order takes 2-4 columns, got $zCols")
    try TxLog.commitWith(spark, root, writer, maxAttempts, recoverTornAfterMs) { base =>
      val m = requireSingleTable(base.getOrElse(throw new IllegalStateException(
        s"compactTxZOrder: no committed version under $root")), root)
      if (m.deltas.size < minDeltas) throw CompactSkip(m.version)
      val merged = mergedTx(spark, m)
      val next = m.version + 1
      val nonce = java.util.UUID.randomUUID().toString.take(8)
      val dataDir = s"$root/t$next-$writer-$nonce"
      val rows = merged.count()
      val nFiles = math.max(1L, (rows + targetRowsPerFile - 1) / targetRowsPerFile).toInt
      val keyCols = m.meta.get(MetaKeys).map(_.split(",").toSeq).getOrElse(Nil)
      val boundAggs = zCols.flatMap(c => Seq(
        min(col(c).cast("double")), max(col(c).cast("double"))))
      val b = merged.agg(boundAggs.head, boundAggs.tail: _*).head()
      def bound(i: Int) = if (b.isNullAt(i)) 0.0 else b.getDouble(i)
      val zc = "__graft_z"
      val packed = merged
        .withColumn(zc, ZOrder.zvalueN(zCols.zipWithIndex.map { case (c, i) =>
          (col(c), bound(2 * i), bound(2 * i + 1)) }))
        .repartitionByRange(nFiles, col(zc))
        .sortWithinPartitions(col(zc))
        .drop(zc)
      packed.write.mode(SaveMode.Overwrite).parquet(dataDir)
      ZoneMap.write(spark, dataDir, (keyCols ++ zCols).distinct)
      TxLog.Prepared(dataDir = dataDir,
        meta = m.meta + ("zorder" -> zCols.mkString(",")),
        written = Seq(dataDir))
    } catch { case CompactSkip(v) => v }
  }

  /** Point lookup on an arbitrary column, BLOOM-SIDECAR pruned — the
    * [[readTxRangeOn]] twin for columns with no layout correlation
    * (uuid-ish ids, foreign keys) where zone ranges cannot prune:
    * scans only the files whose per-file Bloom
    * ([[BloomSidecar]], written by [[compactTx]] `bloomCols`) may
    * contain `value` — ~1 + fpp·F of F files. Matching rows are
    * re-filtered exactly after the scan, so Bloom false positives
    * cost I/O, never correctness. The probe compares the column's
    * canonical STRING rendering (what the sidecar inserted), so pass
    * e.g. "42" for a long column.
    *
    * With DELTAS OUTSTANDING a one-pass bloom prune on a non-key
    * column is UNSOUND — a pruned-away delta row can supersede (or
    * tombstone) a matching base row, resurrecting a stale value — so
    * the hot-table path runs TWO passes, both pruned:
    *  1. candidate discovery: bloom-pruned files of EVERY layer
    *     (mergeTx writes per-delta sidecars) are scanned for rows
    *     matching `value`, aggregated to the candidates' first-key
    *     bounds (a scalar job ∝ matching files);
    *  2. key resolution: the zone-map-pruned latest-per-key merge
    *     over that key range (sound — key zones prune correctly
    *     through deltas), exact-filtered to `value`.
    * Any key whose LATEST row matches is bloom-found in pass 1 (no
    * false negatives) and fully resolved in pass 2; a key whose match
    * was superseded is eliminated by the final filter. File opens
    * ≈ 2× the matching files (+ fpp), vs the full O(layers) merge.
    */
  def readTxPointOn(spark: SparkSession, root: String, schemaOf: => DataFrame,
                    colName: String, value: String): DataFrame =
    TxLog.current(spark, root) match {
      case None => schemaOf.limit(0)
      case Some(m0) =>
        val m = requireSingleTable(m0, root)
        val eq = col(colName).cast("string") === value
        requireNoPartial(m.meta, "readTxPointOn")
        if (m.deltas.isEmpty) {
          val files = BloomSidecar.pruneFiles(spark, m.dataDir, colName, value)
          scanLayers(spark, Seq(m.dataDir), Some(Seq(files)))
            .fold(schemaOf.limit(0))(dropTombstones(_).where(eq))
        } else {
          val keys = m.meta.get(MetaKeys).filter(_.nonEmpty).getOrElse(
            throw new IllegalStateException(
              "manifest has deltas but no stored key columns")).split(",").toSeq
          val vers = m.meta(MetaVers).split(",").toSeq
          val dirs = m.dataDir +: m.deltas
          candidateKeyBounds(spark, dirs, keys.head, eq,
            d => BloomSidecar.pruneFiles(spark, d, colName, value)) match {
            case None => schemaOf.limit(0)
            case Some((lo, hi)) =>
              readPrunedDirs(spark, dirs, keys, vers, lo, hi,
                keyPointBloom(spark, keys.head, lo, hi)).where(eq)
          }
        }
    }

  /** Pass 1 of the delta-outstanding pruned lookups: scan each layer's
    * sidecar-pruned files for rows matching `cond` and return the
    * candidates' (min, max) on `keyCol` — None when nothing matches.
    * One scalar aggregate job over the matching files only, read as
    * one relation ([[scanLayers]]). */
  private def candidateKeyBounds(spark: SparkSession, dirs: Seq[String],
                                 keyCol: String, cond: Column,
                                 pruned: String => Seq[String]): Option[(Any, Any)] =
    scanLayers(spark, dirs, Some(dirs.map(pruned))).flatMap { df =>
      val r = df.where(cond).agg(min(col(keyCol)), max(col(keyCol))).head()
      if (r.isNullAt(0)) None else Some((r.get(0), r.get(1)))
    }

  /** Per-dir pass-2 refinement for a POINT candidate (lo == hi): a
    * sparse delta's key zone spans nearly the whole domain, but its
    * bloom sidecar (mergeTx inserts the first key column) can reject
    * the single candidate key per file. Identity for true ranges or
    * dirs without a key filter. */
  private def keyPointBloom(spark: SparkSession, keyCol: String,
                            lo: Any, hi: Any): (String, Seq[String]) => Seq[String] =
    if (lo != hi) (_, fs) => fs
    else (d, fs) => {
      // compare by file NAME: zone paths are scheme-less, bloom paths
      // are fs-qualified URIs — both unique within one dir
      def nameOf(f: String) = new org.apache.hadoop.fs.Path(f).getName
      val keep = BloomSidecar.pruneFiles(spark, d, keyCol, String.valueOf(lo))
        .map(nameOf).toSet
      fs.filter(f => keep.contains(nameOf(f)))
    }

  /** PARTIAL-COLUMN upsert — the StarRocks primary-key
    * `partial_update` mode (Debezium patch-event shape): `changes`
    * carries the key + version + delete-flag columns plus ONLY the
    * value columns this batch sets. Columns ABSENT from the batch
    * schema leave existing rows unchanged; a PRESENT column set to
    * null writes an explicit null (the two cases stay distinguishable
    * because the manifest records each partial delta's present-column
    * set under `pcols.<dir>`). The delta dir stores just the present
    * columns — commit I/O ∝ batch rows × touched columns, the point of
    * partial updates for wide tables.
    *
    * Read side: [[readTxPartial]] coalesces per COLUMN by version
    * order (merge-on-read, cost ∝ scanned rows, two passes).
    * Whole-row paths (readTx / mergeTx / compactTx / range reads)
    * REFUSE the table while partial deltas are outstanding — a
    * whole-row merge would read an absent column's null as a value;
    * [[compactTxPartial]] folds partials back to full rows and lifts
    * the restriction.
    *
    * Delete semantics: a tombstone hides every older record entirely;
    * a partial update NEWER than the tombstone resurrects the key with
    * nulls in the columns it does not write.
    *
    * Requires a committed base (bootstrap with [[mergeTx]]).
    */
  def mergeTxPartial(spark: SparkSession, root: String, changes: DataFrame,
                     keyCols: Seq[String], versionCols: Seq[String],
                     deleteFlag: String, writer: String, maxAttempts: Int = 5,
                     recoverTornAfterMs: Long = 60000L): Long = {
    val chg = PkTable.latestPerKey(
      changes.withColumn(Tombstone, coalesce(col(deleteFlag), lit(false)))
        .drop(deleteFlag),
      keyCols, versionCols.map(col))
    val present = chg.columns.toSeq
      .filterNot(c => keyCols.contains(c) || versionCols.contains(c) || c == Tombstone)
    present.foreach(c => require(
      !c.exists(ch => ch == ',' || ch == '=' || ch == '\n'),
      s"partial-update column name '$c' unusable in a manifest"))
    TxLog.commitWith(spark, root, writer, maxAttempts, recoverTornAfterMs) { base =>
      val m = requireSingleTable(base.getOrElse(throw new IllegalStateException(
        s"mergeTxPartial: no committed base under $root — bootstrap with mergeTx")),
        root)
      require(m.meta.get(MetaKeys).contains(keyCols.mkString(",")) &&
        m.meta.get(MetaVers).contains(versionCols.mkString(",")),
        s"mergeTxPartial key/version columns differ from the table's " +
          s"(stored keys=${m.meta.get(MetaKeys)} vers=${m.meta.get(MetaVers)})")
      // a misspelled / schema-drifted change column would commit its
      // values into an unreadable grave (partialMerge only projects
      // base-schema columns) — refuse loudly instead. Footer-only read.
      val baseValueCols = graft.SchemaCache.read(spark, m.dataDir).schema.fieldNames
        .filterNot(c => keyCols.contains(c) || versionCols.contains(c) ||
          c == Tombstone).toSet
      val unknown = present.filterNot(baseValueCols)
      require(unknown.isEmpty,
        s"mergeTxPartial: change columns ${unknown.mkString(", ")} do not " +
          s"exist in the base table (known value columns: " +
          s"${baseValueCols.toSeq.sorted.mkString(", ")})")
      val next = m.version + 1
      val nonce = java.util.UUID.randomUUID().toString.take(8)
      val deltaDir = s"$root/p$next-$writer-$nonce"
      chg.write.mode(SaveMode.Overwrite).parquet(deltaDir)
      ZoneMap.write(spark, deltaDir, keyCols)
      val dirName = deltaDir.substring(deltaDir.lastIndexOf('/') + 1)
      TxLog.Prepared(dataDir = m.dataDir, deltas = m.deltas :+ deltaDir,
        meta = m.meta + (s"$PcolsPrefix$dirName" -> present.mkString(",")),
        written = Seq(deltaDir))
    }
  }

  /** The partial-aware two-phase merge: (live full rows, dead-key
    * tombstone rows). Phase 1 finds each key's latest tombstone order;
    * phase 2 takes, per column, the newest explicitly-written value
    * among records newer than that tombstone. */
  private def partialMerge(spark: SparkSession, m: TxLog.Manifest)
      : (DataFrame, DataFrame) = {
    val keys = m.meta(MetaKeys).split(",").toSeq
    val vers = m.meta(MetaVers).split(",").toSeq
    val baseDf = graft.SchemaCache.read(spark, m.dataDir)
    val valueCols = baseDf.columns.toSeq
      .filterNot(c => keys.contains(c) || vers.contains(c) || c == Tombstone)
    val types = valueCols.map(c => c -> baseDf.schema(c).dataType).toMap
    def dirName(d: String) = d.substring(d.lastIndexOf('/') + 1)
    val frames = (m.dataDir +: m.deltas).zipWithIndex.map { case (d, i) =>
      val p: Set[String] =
        if (i == 0) valueCols.toSet
        else m.meta.get(PcolsPrefix + dirName(d))
          .map(_.split(",").filter(_.nonEmpty).toSet).getOrElse(valueCols.toSet)
      val sel = keys.map(col) ++ vers.map(col) ++
        Seq(col(Tombstone), lit(i.toLong).as(CommitSeq)) ++
        valueCols.flatMap(c => Seq(
          (if (p(c)) col(c) else lit(null).cast(types(c))).as(c),
          lit(p(c)).as(s"__has_$c")))
      graft.SchemaCache.read(spark, d).select(sel: _*)
    }
    val u = frames.reduce(_ unionByName _)
    val ord = struct((vers.map(col) :+ col(CommitSeq)): _*)
    val t = u.groupBy(keys.map(col): _*)
      .agg(max(when(col(Tombstone), ord)).as("__tord"), max(ord).as("__lord"))
    val valid = u.join(t, keys)
      .where(!col(Tombstone) &&
        (col("__tord").isNull || ord > col("__tord")))
    val liveAggs = max(ord).as("__o") +:
      valueCols.map(c => max_by(col(c), when(col(s"__has_$c"), ord)).as(c))
    val live = valid.groupBy(keys.map(col): _*)
      .agg(liveAggs.head, liveAggs.tail: _*)
      .select(keys.map(col) ++ vers.map(v => col("__o").getField(v).as(v)) ++
        valueCols.map(col): _*)
    val dead = t.where(col("__tord").isNotNull && !(col("__lord") > col("__tord")))
      .select(keys.map(col) ++ vers.map(v => col("__tord").getField(v).as(v)) ++
        valueCols.map(c => lit(null).cast(types(c)).as(c)): _*)
    (live, dead)
  }

  /** Live contents of a table with partial-update deltas: full rows
    * with every column coalesced to its newest explicitly-written
    * value (works on fully-compacted tables too). Two passes over the
    * scanned dirs; [[compactTxPartial]] restores one-pass reads. */
  def readTxPartial(spark: SparkSession, root: String,
                    schemaOf: => DataFrame): DataFrame =
    TxLog.current(spark, root) match {
      case None    => schemaOf.limit(0)
      case Some(m) => partialMerge(spark, requireSingleTable(m, root))._1
    }

  /** Fold partial deltas into a fresh FULL-ROW base (key-range-sorted
    * bin-packing like [[compactTx]], dead keys retained as tombstone
    * rows, `pcols.*` meta cleared) — after this the whole-row
    * read/merge/compact surface applies again. */
  def compactTxPartial(spark: SparkSession, root: String, writer: String,
                       targetRowsPerFile: Long = 4L << 20,
                       maxAttempts: Int = 5,
                       recoverTornAfterMs: Long = 60000L): Long =
    TxLog.commitWith(spark, root, writer, maxAttempts, recoverTornAfterMs) { base =>
      val m = requireSingleTable(base.getOrElse(throw new IllegalStateException(
        s"compactTxPartial: no committed version under $root")), root)
      val (live, dead) = partialMerge(spark, m)
      val full = live.withColumn(Tombstone, lit(false))
        .unionByName(dead.withColumn(Tombstone, lit(true)))
      val next = m.version + 1
      val nonce = java.util.UUID.randomUUID().toString.take(8)
      val dataDir = s"$root/t$next-$writer-$nonce"
      val rows = full.count()
      val nFiles = math.max(1L, (rows + targetRowsPerFile - 1) / targetRowsPerFile).toInt
      val keyCols = m.meta.get(MetaKeys).map(_.split(",").toSeq).getOrElse(Nil)
      val packed =
        if (keyCols.nonEmpty)
          full.repartitionByRange(nFiles, keyCols.map(col): _*)
            .sortWithinPartitions(keyCols.map(col): _*)
        else full.repartition(nFiles)
      packed.write.mode(SaveMode.Overwrite).parquet(dataDir)
      ZoneMap.write(spark, dataDir, keyCols)
      TxLog.Prepared(dataDir = dataDir,
        meta = m.meta.filterNot(_._1.startsWith(PcolsPrefix)),
        written = Seq(dataDir))
    }

  /** CHANGE FEED between two committed versions (Delta CDF /
    * "incremental read" analogue): the NET per-key difference of the
    * two snapshots, one row per changed key with `_change_type` ∈
    * insert | update | delete (update/insert carry the to-version row,
    * delete the last visible from-version row). A key whose visible
    * row is identical in both versions emits nothing — including the
    * no-op case where a late delta carried an OLDER version that lost
    * the merge.
    *
    * Cost shape: when `to`'s dir list extends `from`'s (the common
    * no-compaction-between case) both snapshots are first semi-joined
    * to the keys TOUCHED by the new deltas, so the diff's shuffle is
    * ∝ touched keys, never table keys (the scans stay full-width but
    * zone-sorted bases make the semi-join's exchange the only real
    * cost). Across a compaction boundary the dir lists diverge and
    * the diff falls back to the full snapshot pair — correct, just
    * unpruned; vacuumed `from` dirs fail like [[readTxAt]].
    */
  def readTxChanges(spark: SparkSession, root: String,
                    fromVersion: Long, toVersion: Long): DataFrame =
    changesImpl(spark, root, fromVersion, toVersion, cdf = false)

  /** [[readTxChanges]] with BOTH update images (the Delta CDF row
    * convention): an updated key emits `update_preimage` (the
    * from-version row) AND `update_postimage` (the to-version row)
    * instead of one `update` row. Exactly what delta-proportional
    * maintenance of subtractable aggregates needs — [[TableStats]]'
    * incremental refresh subtracts the preimage's contribution and
    * adds the postimage's, which the single-image feed cannot
    * express. Same cost shape as [[readTxChanges]]. */
  def readTxChangesCdf(spark: SparkSession, root: String,
                       fromVersion: Long, toVersion: Long): DataFrame =
    changesImpl(spark, root, fromVersion, toVersion, cdf = true)

  private def changesImpl(spark: SparkSession, root: String,
                          fromVersion: Long, toVersion: Long,
                          cdf: Boolean): DataFrame = {
    require(toVersion >= fromVersion,
      s"readTxChanges: to=$toVersion < from=$fromVersion")
    def manifest(v: Long) = TxLog.at(spark, root, v)
      .map(requireSingleTable(_, root)).getOrElse(throw new IllegalArgumentException(
        s"readTxChanges: no committed version $v under $root"))
    val mF = manifest(fromVersion); val mT = manifest(toVersion)
    requireNoPartial(mF.meta, "readTxChanges"); requireNoPartial(mT.meta, "readTxChanges")
    val keys = mT.meta.get(MetaKeys).filter(_.nonEmpty).getOrElse(
      throw new IllegalStateException(
        s"readTxChanges: $root has no stored key columns")).split(",").toSeq
    val ChangeType = "_change_type"
    // across a WIDENING boundary the from-image lacks the new columns;
    // align both sides to the union schema (nulls fill the gap — the
    // same ADD COLUMN default the merged read serves), so the diff
    // reports a widened row as an update carrying the new column
    def align(df: DataFrame, ref: DataFrame): DataFrame =
      ref.schema.fields.filterNot(f => df.columns.contains(f.name))
        .foldLeft(df)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
    val sFrom0 = {
      val a = mergeDirs(spark, mF.dataDir +: mF.deltas, mF.meta)
      align(a, mergeDirs(spark, mT.dataDir +: mT.deltas, mT.meta))
    }
    val sTo0 = align(mergeDirs(spark, mT.dataDir +: mT.deltas, mT.meta), sFrom0)
    val outCols = sTo0.columns.toSeq.filterNot(_ == Tombstone)
    val newDirs =
      if (mF.dataDir == mT.dataDir && mT.deltas.startsWith(mF.deltas))
        Some(mT.deltas.drop(mF.deltas.size))
      else None
    if (newDirs.contains(Nil))
      return sTo0.select(outCols.map(col): _*).limit(0)
        .withColumn(ChangeType, lit(""))
    val (sFrom, sTo) = newDirs match {
      case Some(dirs) =>
        val touched = scanLayers(spark, dirs, project = Some(keys)).get
          .select(keys.map(col): _*).distinct()
        (sFrom0.join(touched, keys, "left_semi"),
          sTo0.join(touched, keys, "left_semi"))
      case None => (sFrom0, sTo0)
    }
    // internal rename prefixes follow the __graft_* reserved-name
    // convention so a user column literally named f_<col> / t_<col> /
    // __present__ can never collide with the diff join's columns
    val pF = "__graft_f_"
    val pT = "__graft_t_"
    def tag(df: DataFrame, p: String) = df.columns.foldLeft(df) { (d, c) =>
      if (keys.contains(c)) d else d.withColumnRenamed(c, s"$p$c")
    }.withColumn(s"${p}__present__", lit(true))
    val j = tag(sFrom, pF).join(tag(sTo, pT), keys, "full_outer")
    val nonKey = sTo0.columns.toSeq.filterNot(c => keys.contains(c) || c == Tombstone)
    val visF = coalesce(col(s"${pF}__present__"), lit(false)) &&
      !coalesce(col(s"$pF$Tombstone"), lit(true))
    val visT = coalesce(col(s"${pT}__present__"), lit(false)) &&
      !coalesce(col(s"$pT$Tombstone"), lit(true))
    val rowF = struct(nonKey.map(c => col(s"$pF$c")): _*)
    val rowT = struct(nonKey.map(c => col(s"$pT$c")): _*)
    val ct = when(!visF && visT, lit("insert"))
      .when(visF && !visT, lit("delete"))
      .when(visF && visT && !(rowF <=> rowT), lit("update"))
    val tagged = j.withColumn(ChangeType, ct).where(col(ChangeType).isNotNull)
    if (!cdf)
      tagged.select(keys.map(col) ++ nonKey.map(c =>
        when(col(ChangeType) === "delete", col(s"$pF$c"))
          .otherwise(col(s"$pT$c")).as(c)) :+ col(ChangeType): _*)
    else {
      // CDF form: updates fan out to (preimage, postimage); schema
      // alignment above guarantees the two image structs agree
      def img(p: String, tag: String) = struct(
        nonKey.map(c => col(s"$p$c").as(c)) :+ lit(tag).as(ChangeType): _*)
      val arr = when(col(ChangeType) === "insert", array(img(pT, "insert")))
        .when(col(ChangeType) === "delete", array(img(pF, "delete")))
        .otherwise(array(img(pF, "update_preimage"),
          img(pT, "update_postimage")))
      tagged.select(keys.map(col) :+ explode(arr).as("__graft_img"): _*)
        .select(keys.map(col) ++ nonKey.map(c =>
          col(s"__graft_img.$c").as(c)) :+
          col(s"__graft_img.$ChangeType").as(ChangeType): _*)
    }
  }

  /** One table's batch inside a multi-table transactional commit.
    * `preCompacted = true` asserts the caller guarantees ≤ 1 row per
    * key (e.g. the frame is itself a per-key aggregate) and skips the
    * write-side latest-per-key compaction — one whole exchange per
    * table per commit. Safety: merge-on-read re-compacts over
    * base ∪ deltas at read time anyway, but the caller MUST keep the
    * uniqueness guarantee — two rows with one key AND one version in
    * one delta dir would tie max_by nondeterministically. */
  final case class TableBatch(changes: DataFrame, keyCols: Seq[String],
                              versionCols: Seq[String], deleteFlag: String,
                              preCompacted: Boolean = false)

  private def groupMetaOf(table: String, keyCols: Seq[String],
                          versionCols: Seq[String]): Map[String, String] =
    metaOf(keyCols, versionCols).map { case (k, v) => s"$k.$table" -> v }

  private def validGroupTableName(t: String): Unit = require(
    t.nonEmpty && !t.exists(c => c == '=' || c == '\n' || c == '/' ||
      c == ',' || c == '.'),
    s"invalid table name '$t'")

  private def compactedWithTomb(b: TableBatch): DataFrame = {
    val withTomb = b.changes
      .withColumn(Tombstone, coalesce(col(b.deleteFlag), lit(false)))
      .drop(b.deleteFlag)
    if (b.preCompacted) withTomb
    else PkTable.latestPerKey(withTomb, b.keyCols, b.versionCols.map(col))
  }

  /** One table's delta dir written AHEAD of its [[mergeTxGroup]]
    * commit — see [[stageTableBatch]]. */
  final case class StagedBatch private[sinks] (table: String, dir: String,
                                               meta: Map[String, String],
                                               join: () => Unit)

  /** START one table's delta write NOW (on a [[graft.Par]] thread, so
    * it overlaps the caller's other pre-commit waves — the state
    * merges and delta checkpoints of a maintenance round) for a later
    * [[mergeTxGroup]] commit. Sound because the written DATA depends
    * only on the batch, never on the manifest the commit will see:
    * the commit still validates the table's key/version meta against
    * the current manifest per attempt, and a lost CAS race re-merges
    * and retries WITHOUT re-writing (the dir contents are valid at
    * any base version). The dir is invisible to readers until a
    * manifest references it. On commit failure mergeTxGroup deletes
    * it; a caller that stages but never commits leaks the dir until
    * vacuum — the same hazard window as a crash between a commit
    * attempt's write and its claim. Callers MUST pass every staged
    * handle to exactly one mergeTxGroup call, and MUST stage only
    * after their replay/watermark guard (a skipped batch must run
    * zero jobs). */
  def stageTableBatch(spark: SparkSession, groupRoot: String, table: String,
                      b: TableBatch, writer: String): StagedBatch = {
    require(!groupRoot.contains(","), s"groupRoot may not contain ',': $groupRoot")
    validGroupTableName(table)
    val next0 = TxLog.current(spark, groupRoot).map(_.version + 1).getOrElse(0L)
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val dir = s"$groupRoot/$table/d$next0-$writer-$nonce"
    val chg = compactedWithTomb(b)
    val join = graft.Par.start { () =>
      chg.write.mode(SaveMode.Overwrite).parquet(dir)
      ZoneMap.write(spark, dir, b.keyCols)
    }
    StagedBatch(table, dir, groupMetaOf(table, b.keyCols, b.versionCols), join)
  }

  /** Multi-table ATOMIC commit, MERGE-ON-READ like [[mergeTx]]: each
    * touched table's batch (compacted to one row per key) lands as a
    * NEW delta dir appended to that table's comma-joined dir list, and
    * one manifest flips every table — a reader of any committed
    * version sees a cross-table-consistent snapshot (orders and
    * customers from the same source batch appear together or not at
    * all; single-table logs cannot promise this). Commit I/O is
    * proportional to the batch, never to any table. Tables absent
    * from `batches` carry their dir lists forward. Same optimistic
    * protocol, torn-claim reclaim, and tombstone semantics as
    * [[mergeTx]], with one refinement (r18): the delta writes are
    * HOISTED out of the claim loop — the written data depends only on
    * the batch, never on the manifest, so a lost CAS race re-merges
    * the manifest and retries WITHOUT re-writing (per-attempt work is
    * driver-side only), and every written dir is deleted iff the
    * whole commit fails. `staged` accepts writes the caller started
    * earlier via [[stageTableBatch]] (overlapping its own pre-commit
    * waves); their tables must be disjoint from `batches`.
    * [[compactTxGroup]] folds a table's list back to one dir;
    * [[vacuumTxGroup]] reference-counts shared dirs.
    */
  def mergeTxGroup(spark: SparkSession, groupRoot: String,
                   batches: Map[String, TableBatch], writer: String,
                   maxAttempts: Int = 5,
                   recoverTornAfterMs: Long = 60000L,
                   extraMeta: Map[String, String] = Map.empty,
                   staged: Seq[StagedBatch] = Nil): Long = {
    require(batches.nonEmpty || staged.nonEmpty, "mergeTxGroup: no batches")
    // ',' joins dir LISTS in manifest values — keep it out of every
    // path component we control
    require(!groupRoot.contains(","), s"groupRoot may not contain ',': $groupRoot")
    batches.keys.foreach(validGroupTableName)
    val allNames = batches.keys.toSeq ++ staged.map(_.table)
    require(allNames.distinct.size == allNames.size,
      s"mergeTxGroup: duplicate table across batches/staged: $allNames")
    val next0 = TxLog.current(spark, groupRoot).map(_.version + 1).getOrElse(0L)
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val planned = batches.toSeq.map { case (t, b) =>
      (t, b, compactedWithTomb(b), s"$groupRoot/$t/d$next0-$writer-$nonce")
    }
    val allDirs = planned.map(_._4) ++ staged.map(_.dir)
    try {
      // the per-table delta writes land in DISTINCT dirs and share no
      // state — independent jobs, overlapped from driver threads
      // (guide §2.6) so one multi-table commit pays one write's fixed
      // job overhead, not one per table
      graft.Par.map(planned) { case (t, b, chg, dir) =>
        chg.write.mode(SaveMode.Overwrite).parquet(dir)
        ZoneMap.write(spark, dir, b.keyCols)
      }
      // join the caller's staged writes; a failure surfaces here,
      // before any claim, with every sibling quiesced (Par contract)
      staged.foreach(_.join())
      val newDirs = planned.map { case (t, b, _, dir) =>
        (t, dir, groupMetaOf(t, b.keyCols, b.versionCols))
      } ++ staged.map(s => (s.table, s.dir, s.meta))
      TxLog.commitWith(spark, groupRoot, writer, maxAttempts, recoverTornAfterMs) { base =>
        val prevTables = base.map(_.tables).getOrElse(Map.empty)
        val prevMeta = base.map(_.meta).getOrElse(Map.empty)
        newDirs.foreach { case (t, _, meta) =>
          meta.foreach { case (k, v) => prevMeta.get(k).foreach(pv => require(pv == v,
            s"mergeTxGroup: $t key/version columns differ from the table's ($pv)")) }
        }
        // caller meta (e.g. per-writer batch watermarks) rides in the
        // same manifest flip — readable driver-side with zero jobs;
        // table key/version meta wins on any key collision
        TxLog.Prepared(
          tables = prevTables ++ newDirs.map { case (t, dir, _) =>
            t -> (prevTables.get(t).toSeq.filter(_.nonEmpty) :+ dir).mkString(",")
          },
          meta = prevMeta ++ extraMeta ++ newDirs.flatMap(_._3),
          written = Nil)
      }
    } catch {
      case e: Throwable =>
        val fs = new org.apache.hadoop.fs.Path(groupRoot)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        allDirs.foreach(d =>
          try fs.delete(new org.apache.hadoop.fs.Path(d), true)
          catch { case _: java.io.IOException => () })
        throw e
    }
  }

  /** Fold one group table's base + deltas into a single fresh dir
    * (same key-range-sorted bin-packing as [[compactTx]]); other
    * tables carry forward untouched. */
  def compactTxGroup(spark: SparkSession, groupRoot: String, table: String,
                     writer: String, minDeltas: Int = 0,
                     targetRowsPerFile: Long = 4L << 20,
                     maxAttempts: Int = 5, recoverTornAfterMs: Long = 60000L): Long =
    try TxLog.commitWith(spark, groupRoot, writer, maxAttempts, recoverTornAfterMs) { base =>
      val m = base.getOrElse(throw new IllegalStateException(
        s"compactTxGroup: no committed version under $groupRoot"))
      val dirs = m.tables.getOrElse(table, throw new IllegalArgumentException(
        s"compactTxGroup: no table '$table' under $groupRoot")).split(",").toSeq
      if (dirs.size < math.max(minDeltas, 2)) throw CompactSkip(m.version)
      val keyCols = m.meta.getOrElse(s"$MetaKeys.$table", "").split(",").toSeq
      val vers = m.meta(s"$MetaVers.$table").split(",").toSeq
      val merged = mergeDirs(spark, dirs,
        Map(MetaKeys -> keyCols.mkString(","), MetaVers -> vers.mkString(",")))
      val next = m.version + 1
      val nonce = java.util.UUID.randomUUID().toString.take(8)
      val dataDir = s"$groupRoot/$table/t$next-$writer-$nonce"
      val rows = merged.count()
      val nFiles = math.max(1L, (rows + targetRowsPerFile - 1) / targetRowsPerFile).toInt
      val packed = merged.repartitionByRange(nFiles, keyCols.map(col): _*)
        .sortWithinPartitions(keyCols.map(col): _*)
      packed.write.mode(SaveMode.Overwrite).parquet(dataDir)
      ZoneMap.write(spark, dataDir, keyCols)
      TxLog.Prepared(tables = m.tables + (table -> dataDir), meta = m.meta,
        written = Seq(dataDir))
    } catch { case CompactSkip(v) => v }

  /** Live contents of one table of a group-committed snapshot —
    * merge-on-read over the table's dir list. */
  def readTxGroup(spark: SparkSession, groupRoot: String, table: String,
                  schemaOf: => DataFrame): DataFrame =
    TxLog.current(spark, groupRoot).flatMap { m =>
      m.tables.get(table).map { list =>
        val dirs = list.split(",").toSeq.filter(_.nonEmpty)
        dropTombstones(mergeDirs(spark, dirs, Map(
          MetaKeys -> m.meta.getOrElse(s"$MetaKeys.$table", ""),
          MetaVers -> m.meta.getOrElse(s"$MetaVers.$table", ""))))
      }
    }.getOrElse(schemaOf.limit(0))

  /** Like [[readTxGroup]] but RETAINING stored tombstones, surfaced
    * as boolean `deletedCol` (false when the table predates deletes).
    * For maintenance jobs whose own derived state must see deleted
    * keys' versions — e.g. incremental view maintenance, where a
    * tombstone's version is what stops a straggler insert from
    * diverging the view from the table. */
  def readTxGroupAll(spark: SparkSession, groupRoot: String, table: String,
                     schemaOf: => DataFrame, deletedCol: String): DataFrame =
    TxLog.current(spark, groupRoot).flatMap { m =>
      m.tables.get(table).map { list =>
        val dirs = list.split(",").toSeq.filter(_.nonEmpty)
        val merged = mergeDirs(spark, dirs, Map(
          MetaKeys -> m.meta.getOrElse(s"$MetaKeys.$table", ""),
          MetaVers -> m.meta.getOrElse(s"$MetaVers.$table", "")))
        if (merged.columns.contains(Tombstone))
          merged.withColumnRenamed(Tombstone, deletedCol)
        else merged.withColumn(deletedCol, lit(false))
      }
    }.getOrElse(schemaOf.limit(0))

  /** Group retention: drop manifests older than the `keepVersions`
    * most recent, then delete only data dirs NO KEPT manifest still
    * references — untouched tables carry dirs forward across
    * versions, so reference-counting (not age) decides data deletion.
    */
  def vacuumTxGroup(spark: SparkSession, groupRoot: String,
                    keepVersions: Int = 2): Seq[Long] = {
    require(keepVersions >= 1, "must keep at least the current version")
    val fs = fsOf(spark, groupRoot)
    // table values may be comma-joined dir LISTS (IvfIndex deltas)
    def dirsOf(m: TxLog.Manifest): Seq[String] =
      (m.tables.values.toSeq.flatMap(_.split(",")) :+ m.dataDir)
        .filter(_.nonEmpty)
    val all = TxLog.versions(spark, groupRoot)
    val victims = all.dropRight(keepVersions)
    // a destructive op must be FAIL-SAFE on read errors: a kept
    // manifest that can't be re-read would silently drop its dirs
    // from the reference count and let the loop delete live data
    val keptDirs = all.takeRight(keepVersions)
      .map(v => TxLog.at(spark, groupRoot, v).getOrElse(throw new IllegalStateException(
        s"vacuumTxGroup: kept manifest $v under $groupRoot is unreadable — aborting")))
      .flatMap(dirsOf).toSet
    victims.foreach { v =>
      val m = TxLog.at(spark, groupRoot, v)
      if (TxLog.delete(spark, groupRoot, v))
        m.foreach(mf => dirsOf(mf).filterNot(keptDirs)
          .foreach(d => fs.delete(new org.apache.hadoop.fs.Path(d), true)))
    }
    victims
  }

  private def dropTombstones(df: DataFrame): DataFrame =
    if (df.columns.contains(Tombstone))
      df.where(!col(Tombstone)).drop(Tombstone)
    else df

  // group/index manifests have no top-level dataDir; the single-table
  // APIs would otherwise fail deep inside a parquet read (or, for
  // vacuum, AFTER deleting manifests) with an empty-path error
  private def requireSingleTable(m: TxLog.Manifest, root: String): TxLog.Manifest = {
    require(m.dataDir.nonEmpty && m.tables.isEmpty,
      s"$root holds a multi-table/index log (version ${m.version}) — " +
        "use the Group/IvfIndex APIs")
    m
  }

  /** Current LIVE contents of a [[TxLog]]-backed table — the
    * merge-on-read view (latest-per-key over base ∪ deltas), stored
    * tombstones filtered out (empty frame with `schemaOf`'s schema if
    * no version is committed yet). */
  def readTx(spark: SparkSession, root: String, schemaOf: => DataFrame): DataFrame =
    TxLog.current(spark, root) match {
      case Some(m) => dropTombstones(mergedTx(spark, requireSingleTable(m, root)))
      case None    => schemaOf.limit(0)
    }

  /** The table's key/version column lists as recorded in the CURRENT
    * manifest — what makes [[deleteWhereTx]]/[[updateWhereTx]]
    * self-describing. */
  private def keyMetaOf(spark: SparkSession, root: String): (Seq[String], Seq[String]) = {
    val m = TxLog.current(spark, root).getOrElse(throw new IllegalStateException(
      s"no committed version under $root"))
    val keys = m.meta.get(MetaKeys).filter(_.nonEmpty).map(_.split(",").toSeq)
      .getOrElse(throw new IllegalStateException(s"no key meta under $root"))
    val vers = m.meta.get(MetaVers).filter(_.nonEmpty).map(_.split(",").toSeq)
      .getOrElse(throw new IllegalStateException(s"no version meta under $root"))
    (keys, vers)
  }

  /** The rows matching `predicate`, with their FIRST version column
    * bumped by one so the emitted batch supersedes the rows it read.
    * Refuses non-numeric version columns loudly. */
  /** Matched rows of the current snapshot, UNBUMPED — callers apply
    * their rewrite against the old row and then [[bumpVersion]]. */
  private def matchedRows(spark: SparkSession, root: String,
                          predicate: org.apache.spark.sql.Column): DataFrame = {
    val matched = readTx(spark, root, spark.emptyDataFrame).where(predicate)
    val v0 = keyMetaOf(spark, root)._2.head
    require(matched.schema(v0).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"deleteWhereTx/updateWhereTx need a numeric first version column; " +
        s"'$v0' is ${matched.schema(v0).dataType.simpleString}")
    matched
  }

  private def bumpVersion(df: DataFrame, v0: String): DataFrame =
    df.withColumn(v0, col(v0) + lit(1))

  /** `DELETE FROM <root> WHERE predicate` (the StarRocks PK-table
    * DELETE verb): matched rows re-commit as version-bumped
    * tombstones — ONE delta commit whose write cost is ∝ matched
    * rows (the scan to find them prunes like any filtered read), the
    * standard merge-on-read delete shape. Returns the matched count
    * (0 ⇒ no commit). Concurrency contract is the table's usual
    * optimistic version-wins merge: a writer updating a matched key
    * with a higher version AFTER our snapshot read wins over the
    * tombstone — DELETE is a CDC participant, not a lock. */
  def deleteWhereTx(spark: SparkSession, root: String,
                    predicate: org.apache.spark.sql.Column,
                    writer: String, maxAttempts: Int = 5): Long = {
    val (keys, vers) = keyMetaOf(spark, root)
    val batch = bumpVersion(matchedRows(spark, root, predicate), vers.head)
      .withColumn("__graft_delw", lit(true))
      .localCheckpoint(true) // pin the snapshot: count + commit see one read
    val n = batch.count()
    if (n > 0)
      mergeTx(spark, root, batch, keys, vers, "__graft_delw", writer,
        maxAttempts = maxAttempts)
    n
  }

  /** `UPDATE <root> SET col = expr, ... WHERE predicate` (the
    * StarRocks PK-table UPDATE verb): matched rows re-commit with the
    * SET columns applied and the version bumped — one delta commit,
    * write ∝ matched rows. Key and version columns refuse assignment
    * (an UPDATE that moves a key is a delete + insert — say so).
    * Same optimistic concurrency contract as [[deleteWhereTx]]. */
  def updateWhereTx(spark: SparkSession, root: String,
                    predicate: org.apache.spark.sql.Column,
                    set: Map[String, org.apache.spark.sql.Column],
                    writer: String, maxAttempts: Int = 5): Long = {
    require(set.nonEmpty, "updateWhereTx: empty SET")
    val (keys, vers) = keyMetaOf(spark, root)
    set.keys.foreach { c =>
      require(!keys.contains(c) && !vers.contains(c),
        s"updateWhereTx may not assign key/version column '$c' " +
          "(a key move is a delete + insert)")
    }
    val matched = matchedRows(spark, root, predicate)
    set.keys.foreach(c => require(matched.columns.contains(c),
      s"updateWhereTx: unknown column '$c'"))
    // SQL UPDATE semantics: every SET right-hand side reads the OLD
    // row — all assignments applied in ONE select over the pre-update
    // snapshot (a sequential withColumn fold would let one SET read
    // another's already-updated value, with Map-iteration-order
    // nondeterminism), and the version bump lands only afterwards so
    // an RHS referencing the version column sees the pre-bump value.
    val updated = bumpVersion(
      matched.select(matched.columns.map(c => set.getOrElse(c, col(c)).as(c)): _*),
      vers.head)
      .withColumn("__graft_delw", lit(false))
      .localCheckpoint(true)
    val n = updated.count()
    if (n > 0)
      mergeTx(spark, root, updated, keys, vers, "__graft_delw", writer,
        maxAttempts = maxAttempts)
    n
  }

  /** PROJECTED merge-on-read: the same rows as
    * `readTx(...).select(columns)` but with the narrow schema pushed
    * BELOW the latest-per-key merge, so the parquet scans read only
    * (keys ∪ versions ∪ requested) columns. The plain form reads every
    * column regardless of the projection above it — the whole-row
    * `max_by(struct(*))` blocks Catalyst's column pruning — which on a
    * wide 100 TB table turns a 2-column report into a full-table byte
    * scan. Sound because the winning row per key is chosen by
    * key + version alone: restricting the payload cannot change which
    * row wins, only which columns ride along. */
  def readTxCols(spark: SparkSession, root: String,
                 columns: Seq[String]): DataFrame = {
    require(columns.nonEmpty, "readTxCols: no columns requested")
    val m = requireSingleTable(TxLog.current(spark, root).getOrElse(
      throw new IllegalStateException(s"readTxCols: no committed version under $root")), root)
    val keys = m.meta.get(MetaKeys).filter(_.nonEmpty).map(_.split(",").toSeq)
      .getOrElse(Nil)
    val vers = m.meta.get(MetaVers).filter(_.nonEmpty).map(_.split(",").toSeq)
      .getOrElse(Nil)
    val want = (keys ++ vers ++ columns :+ Tombstone).distinct
    dropTombstones(mergeDirs(spark, m.dataDir +: m.deltas, m.meta, Some(want)))
      .select(columns.map(col): _*)
  }

  /** Point/range lookup on a [[TxLog]]-backed table, ZONE-MAP PRUNED:
    * resolves the key range [lo,hi] (inclusive, on the table's FIRST
    * key column) against each dir's `_zonemap` sidecar and scans ONLY
    * the files whose recorded range can match — after [[compactTx]]'s
    * key-range-sorted bin-packing that is typically one file per dir,
    * so a point lookup on a million-file table reads a handful of
    * files instead of listing-and-opening every footer.
    *
    * Correctness under merge-on-read: every stored version of a key k
    * lives in files whose [min,max] contains k, so pruning by zone can
    * never hide a newer version from the latest-per-key merge; keys
    * outside [lo,hi] that ride along in kept files are filtered after
    * the merge. Dirs without a sidecar (legacy) scan fully. Returns
    * the same rows as `readTx(...).where(key between lo and hi)`.
    */
  def readTxRange(spark: SparkSession, root: String, schemaOf: => DataFrame,
                  lo: Long, hi: Long): DataFrame =
    TxLog.current(spark, root) match {
      case None => schemaOf.limit(0)
      case Some(m0) =>
        val m = requireSingleTable(m0, root)
        requireNoPartial(m.meta, "readTxRange")
        val keys = m.meta.get(MetaKeys).filter(_.nonEmpty).getOrElse(
          throw new IllegalStateException(
            s"readTxRange: $root has no stored key columns")).split(",").toSeq
        readPrunedDirs(spark, m.dataDir +: m.deltas, keys,
          m.meta(MetaVers).split(",").toSeq, lo, hi)
    }

  /** [[readTxRange]] for one table of a multi-table group commit. */
  def readTxGroupRange(spark: SparkSession, groupRoot: String, table: String,
                       schemaOf: => DataFrame, lo: Long, hi: Long): DataFrame =
    TxLog.current(spark, groupRoot).flatMap { m =>
      m.tables.get(table).map { list =>
        val keys = m.meta.getOrElse(s"$MetaKeys.$table",
          throw new IllegalStateException(
            s"readTxGroupRange: no stored key columns for '$table'")).split(",").toSeq
        readPrunedDirs(spark, list.split(",").toSeq.filter(_.nonEmpty), keys,
          m.meta(s"$MetaVers.$table").split(",").toSeq, lo, hi)
      }
    }.getOrElse(schemaOf.limit(0))

  /** Zone-map-pruned latest-per-key merge over an ordered dir list:
    * the kept files of every layer are read as one relation
    * ([[scanLayers]]), commit order coming from each file's layer.
    * Rows, and schema, equal `readTx` filtered to [lo,hi] — the schema
    * spans every layer, pruned or not, also when nothing is kept.
    * Bounds are Any (long/string/double key domains) — the zone probe
    * uses their canonical string rendering, the row filter a typed lit. */
  private def readPrunedDirs(spark: SparkSession, dirs: Seq[String],
                             keys: Seq[String], vers: Seq[String],
                             lo: Any, hi: Any,
                             extraPrune: (String, Seq[String]) => Seq[String] =
                               (_, fs) => fs): DataFrame = {
    val keyCol = keys.head
    val kept = dirs.map(d => extraPrune(d,
      ZoneMap.pruneFiles(spark, d, keyCol, lo.toString, hi.toString)))
    val range = col(keyCol).between(lo, hi)
    scanLayers(spark, dirs, Some(kept)) match {
      case None => dropTombstones(emptyFrame(spark, layersSchema(spark, dirs)))
      // single-dir table: same no-merge path as readTx
      case Some(one) if dirs.size == 1 => dropTombstones(one).where(range)
      case Some(layers) => dropTombstones(latestLayer(layers.where(range), keys, vers))
    }
  }

  /** Zone-map pruning decision for [lo,hi] on a table's first key
    * column, without reading data: (files that would be scanned, total
    * data files across the current version's dirs). For plan asserts
    * and ops introspection. */
  def pruneStats(spark: SparkSession, root: String,
                 lo: Long, hi: Long): (Seq[String], Int) = {
    val m = TxLog.current(spark, root).map(requireSingleTable(_, root))
      .getOrElse(throw new IllegalStateException(s"no committed version under $root"))
    pruneStatsOn(spark, root, m.meta(MetaKeys).split(",").head, lo, hi)
  }

  /** [[pruneStats]] on an arbitrary recorded zone column (a
    * [[compactTxZOrder]] clustering column, typically). */
  def pruneStatsOn(spark: SparkSession, root: String, zoneCol: String,
                   lo: Long, hi: Long): (Seq[String], Int) = {
    val m = TxLog.current(spark, root).map(requireSingleTable(_, root))
      .getOrElse(throw new IllegalStateException(s"no committed version under $root"))
    val dirs = m.dataDir +: m.deltas
    val fs = fsOf(spark, m.dataDir)
    val total = dirs.map(d => fs.listStatus(new org.apache.hadoop.fs.Path(d))
      .count { s =>
        val n = s.getPath.getName; !n.startsWith("_") && !n.startsWith(".")
      }).sum
    (dirs.flatMap(d => ZoneMap.pruneFiles(spark, d, zoneCol, lo.toString, hi.toString)),
      total)
  }

  /** Pruning decision of the TWO-PASS point lookup ([[readTxPointOn]]
    * with deltas outstanding) on `colName = value`: (pass-1
    * bloom-matched files, pass-2 key-resolution files, total data
    * files across the current version's dirs). Runs pass 1's scalar
    * candidate-bounds job; reads no other row data. For plan asserts
    * and ops introspection. */
  def pointPruneStatsOn(spark: SparkSession, root: String, colName: String,
                        value: String): (Seq[String], Seq[String], Int) = {
    val m = TxLog.current(spark, root).map(requireSingleTable(_, root))
      .getOrElse(throw new IllegalStateException(s"no committed version under $root"))
    val dirs = m.dataDir +: m.deltas
    val fs = fsOf(spark, m.dataDir)
    val total = dirs.map(d => fs.listStatus(new org.apache.hadoop.fs.Path(d))
      .count { s =>
        val n = s.getPath.getName; !n.startsWith("_") && !n.startsWith(".")
      }).sum
    def bloomed(d: String) = BloomSidecar.pruneFiles(spark, d, colName, value)
    val pass1 = dirs.flatMap(bloomed)
    val keyCol = m.meta(MetaKeys).split(",").head
    val pass2 = candidateKeyBounds(spark, dirs, keyCol,
      col(colName).cast("string") === value, bloomed) match {
      case None => Nil
      case Some((lo, hi)) =>
        val extra = keyPointBloom(spark, keyCol, lo, hi)
        dirs.flatMap(d => extra(d, ZoneMap.pruneFiles(
          spark, d, keyCol, String.valueOf(lo), String.valueOf(hi))))
    }
    (pass1, pass2, total)
  }

  /** Range read pruned on an ARBITRARY recorded zone column — the read
    * side of [[compactTxZOrder]] (the clustering columns are exactly
    * the non-key columns worth range-scanning). Zone pruning on a
    * non-key column in ONE pass is only sound when no delta can
    * supersede a pruned base row, so: a fully-compacted table (single
    * dir) scans just the zone-matching files; a table with DELTAS
    * OUTSTANDING runs the same two-pass scheme as [[readTxPointOn]] —
    * zone-pruned candidate discovery over every layer (mergeTx
    * `statsCols` records the column in per-delta zone maps; a delta
    * without recorded stats contributes all its batch-sized files,
    * still correct), then the key-zone-pruned latest-per-key merge
    * over the candidates' key range, re-filtered exactly. Key-column
    * ranges should use [[readTxRange]], which prunes correctly
    * through deltas in one pass.
    */
  def readTxRangeOn(spark: SparkSession, root: String, schemaOf: => DataFrame,
                    zoneCol: String, lo: Long, hi: Long): DataFrame =
    TxLog.current(spark, root) match {
      case None => schemaOf.limit(0)
      case Some(m0) =>
        val m = requireSingleTable(m0, root)
        val range = col(zoneCol).between(lo, hi)
        requireNoPartial(m.meta, "readTxRangeOn")
        if (m.deltas.isEmpty) {
          val files = ZoneMap.pruneFiles(spark, m.dataDir, zoneCol,
            lo.toString, hi.toString)
          scanLayers(spark, Seq(m.dataDir), Some(Seq(files)))
            .fold(schemaOf.limit(0))(dropTombstones(_).where(range))
        } else {
          val keys = m.meta.get(MetaKeys).filter(_.nonEmpty).getOrElse(
            throw new IllegalStateException(
              "manifest has deltas but no stored key columns")).split(",").toSeq
          val vers = m.meta(MetaVers).split(",").toSeq
          val dirs = m.dataDir +: m.deltas
          candidateKeyBounds(spark, dirs, keys.head, range,
            d => ZoneMap.pruneFiles(spark, d, zoneCol, lo.toString, hi.toString)) match {
            case None => schemaOf.limit(0)
            case Some((kLo, kHi)) =>
              readPrunedDirs(spark, dirs, keys, vers, kLo, kHi).where(range)
          }
        }
    }

  /** Live contents as of a specific committed version (time travel). */
  def readTxAt(spark: SparkSession, root: String, version: Long): DataFrame =
    TxLog.at(spark, root, version) match {
      case Some(m) => dropTombstones(mergedTx(spark, requireSingleTable(m, root)))
      case None => throw new IllegalArgumentException(
        s"no committed version $version under $root")
    }

  /** Retention for [[TxLog]]-backed tables: drop manifests older than
    * the `keepVersions` most recent commits, then delete only data/
    * delta dirs NO KEPT manifest still references. Merge-on-read
    * shares the base (and earlier deltas) across versions — a delta
    * commit carries them forward — so deletion must reference-count,
    * never age out a dir by the version that first wrote it. Returns
    * the versions removed. */
  def vacuumTx(spark: SparkSession, root: String, keepVersions: Int = 2): Seq[Long] = {
    require(keepVersions >= 1, "must keep at least the current version")
    val fs = fsOf(spark, root)
    val all = TxLog.versions(spark, root)
    // fail fast BEFORE any destructive step if this is a group/index
    // root — those need the group vacuum's table-dir handling
    all.flatMap(v => TxLog.at(spark, root, v)).foreach(requireSingleTable(_, root))
    def dirsOf(m: TxLog.Manifest): Seq[String] = m.dataDir +: m.deltas
    val victims = all.dropRight(keepVersions)
    // a destructive op must be FAIL-SAFE on read errors: a kept
    // manifest that can't be re-read would silently drop its dirs
    // from the reference count and let the loop delete live data
    val keptDirs = all.takeRight(keepVersions)
      .map(v => TxLog.at(spark, root, v).getOrElse(throw new IllegalStateException(
        s"vacuumTx: kept manifest $v under $root is unreadable — aborting")))
      .flatMap(dirsOf).toSet
    victims.foreach { v =>
      // manifest FIRST, and only touch data once the manifest is
      // confirmed gone: a crash or failed delete must leave an
      // orphaned (harmless) data dir, never a live manifest pointing
      // at deleted data
      val m = TxLog.at(spark, root, v)
      if (TxLog.delete(spark, root, v))
        m.foreach(mf => dirsOf(mf).filterNot(keptDirs)
          .foreach(d => fs.delete(new org.apache.hadoop.fs.Path(d), true)))
    }
    victims
  }

  /** Single-writer commit: write the pointer content aside, then one
    * atomic rename to `_CURRENT.v<version>`. A crash before the rename
    * leaves the previous pointer current; a crash after leaves the new
    * one current — no state points the table at nothing. Older
    * pointers (and any legacy `_CURRENT`) are pruned best-effort after
    * the rename; a crash mid-prune only leaves stale lower-numbered
    * pointers, which max(N) resolution ignores.
    *
    * Optimistic concurrency: rename-to-existing fails on HDFS-like
    * filesystems, so two writers racing to the same version number
    * cannot clobber each other — the loser gets an exception, never a
    * silent overwrite. (Package-visible for the protocol spec.)
    */
  private[graft] def commit(spark: SparkSession, root: String, version: Long): Unit = {
    val fs = fsOf(spark, root)
    val tmp = new org.apache.hadoop.fs.Path(root, s"_CURRENT.tmp$version")
    val out = fs.create(tmp, true)
    try out.write(version.toString.getBytes("UTF-8")) finally out.close()
    val ptr = new org.apache.hadoop.fs.Path(root, s"$PtrPrefix$version")
    if (!fs.rename(tmp, ptr))
      throw new IllegalStateException(s"commit of v$version failed")
    // best-effort cleanup — never load-bearing
    try {
      val rootPath = new org.apache.hadoop.fs.Path(root)
      fs.listStatus(rootPath).map(_.getPath).foreach { p =>
        val n = p.getName
        val stale = n == "_CURRENT" || n.startsWith("_CURRENT.tmp") ||
          (n.startsWith(PtrPrefix) &&
            scala.util.Try(n.stripPrefix(PtrPrefix).toLong).toOption.exists(_ < version))
        if (stale) fs.delete(p, false)
      }
    } catch { case _: java.io.IOException => () }
  }
}
