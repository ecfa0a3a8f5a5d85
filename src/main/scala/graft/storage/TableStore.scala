package graft.storage

import graft.cql.{CqlInvalidQueryException, CqlTable, VirtualTable}
import graft.operators.CassandraModel
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, Literal}
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable

/** One table's upsert log: the declared shape, the log schema derived from
  * it ([[TableStore.mkState]]), the materialized `base` and the driver-held
  * `pending` mutation rows. */
private[graft] case class TableState(schema: StructType,
  partitionKeys: Seq[String], clusteringKeys: Seq[String],
  staticKeys: Seq[String], counterKeys: Seq[String], logSchema: StructType,
  base: DataFrame, var pending: Vector[Row],
  /** per-clustering-key DESC flag (`WITH CLUSTERING ORDER BY`) */
  clusteringDesc: Seq[Boolean] = Nil,
  /** table-level `default_time_to_live` (seconds), applied to writes
    * that carry no `USING TTL` — upstream TableParams [U] */
  defaultTtl: Option[Long] = None,
  /** true while EVERY row of the table lives in `pending` (created in
    * this session; no bulk load, file commit, COMPACT or ALTER since):
    * [[TableStore.partitionLog]] then skips the base scan, and the
    * session's engine serves the table's view from a local checkpoint */
  localOnly: Boolean = false)

/** The kinds of directory the store derives, one top-level directory each. */
private[graft] sealed abstract class DirKind(val name: String)
private[graft] object DirKind {
  /** a bulk load's materialized log rows (COPY FROM, catalog INSERT) */
  case object BulkLoad extends DirKind("bulkload")
  /** a catalog delta write's executor-spilled log segments */
  case object Delta extends DirKind("delta")
  /** a per-epoch parquet snapshot of a table's reconciled view */
  case object Epoch extends DirKind("epoch")
  /** a COMPACT's folded log segment */
  case object Compacted extends DirKind("compacted")
  /** a `SNAPSHOT` (nodetool snapshot) copy of a table's log */
  case object Snapshot extends DirKind("snapshot")
  /** a cdc-enabled table's cdc_raw-analogue segments */
  case object Cdc extends DirKind("cdc")
}

/** The storage layer under a [[graft.cql.CqlSession]] (upstream's `db`
  * package under `cql3`/`service` [U]): the tables' upsert logs, the
  * reconcile folds that read them, the commits that append files to them,
  * the per-epoch catalog snapshots, compaction and the CDC segments. It
  * owns every directory the engine derives — their names
  * ([[dirFor]]) and their lifetime ([[retire]], the role of upstream's
  * `db/lifecycle` Tracker) — so the session above it keeps the CQL
  * semantics: cells, LWT, triggers, auth, masks and guardrails. */
private[graft] final class TableStore(spark: SparkSession) {
  import TableStore._

  /** canonical table key → its log state */
  val tables: mutable.Map[String, TableState] = mutable.Map.empty
  /** Moves on every write and DDL: the catalog snapshot and the session's
    * engine are cached per epoch. */
  var epoch = 0L
  /** tables whose commits also land as CDC segments (`cdc = true`) */
  val cdcTables: mutable.Set[String] = mutable.Set.empty

  // ——— directory layout ———

  private lazy val root = graft.Tables.tempRoot("graft-storage")

  /** The one naming function of the engine's directories:
    * `<root>/<kind>/<table>/<rendering>/<generation>`. Each part is
    * escaped on its own (below), so distinct (kind, table, rendering,
    * generation) tuples never share a directory; the table key carries the
    * keyspace (`ks.t`, or bare `t` in the default keyspace). The root is a
    * session temp dir removed at JVM exit; delta segments go under
    * `spark.graft.catalog.deltaStagingDir` when set, which on a cluster
    * must be a shared filesystem (the staging-area requirement of every
    * DSv2 commit protocol). */
  def dirFor(kind: DirKind, key: String, rendering: String,
      generation: Any): String = {
    val r = if (kind != DirKind.Delta) root
      else spark.conf.getOption("spark.graft.catalog.deltaStagingDir")
        .getOrElse(root)
    Seq(kind.name, key, rendering, generation.toString).map(segment)
      .mkString(s"$r/", "/", "")
  }

  // ——— directory lifetime ———

  /** The directories each table's base reads (bulk loads, committed delta
    * segments, the compacted segment): what `disk_usage` counts, and what
    * a COMPACT, TRUNCATE or DROP retires. */
  private val live = mutable.Map.empty[String, Seq[String]]
  /** The grace slot per (table, rendering): directories retired once. */
  private val condemned = mutable.Map.empty[(String, String), Seq[String]]

  /** The one retire rule: `dirs` stopped being read under `slot` and wait
    * in its grace slot, and whatever the slot's previous retirement left
    * there is deleted now. One generation of grace: a lazy DataFrame built
    * before the retiring statement can still be collected. Growth stays
    * bounded at two generations per slot; the root's shutdown hook reaps
    * everything at exit. */
  private def retire(slot: (String, String), dirs: Seq[String]): Unit = {
    condemned.remove(slot).foreach(_.foreach(removeDir))
    if (dirs.nonEmpty) condemned(slot) = dirs
  }

  /** The base of `key` stopped reading its files (COMPACT, TRUNCATE,
    * DROP TABLE). */
  private def retireBase(key: String): Unit =
    retire((key, ""), live.remove(key).getOrElse(Nil))

  /** Best effort, through the Hadoop FS API: delta segments may sit on a
    * shared filesystem. */
  private def removeDir(dir: String): Unit = scala.util.Try {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(org.apache.spark.sql.GraftShim.sessionHadoopConf(spark))
      .delete(p, true)
  }

  /** Bytes under a local file or directory, recursively (0 if gone). */
  private def dirBytes(dir: String): Long = {
    def walk(f: java.io.File): Long =
      Option(f.listFiles()).fold(f.length())(_.map(walk).sum)
    walk(new java.io.File(new org.apache.hadoop.fs.Path(dir).toUri.getPath))
  }

  /** Bytes of the files the base of `key` reads. */
  private def baseBytes(key: String): Long =
    live.getOrElse(key, Nil).map(dirBytes).sum

  // ——— log state ———

  def mkState(t: CqlTable): TableState = {
    val schema = t.df.schema
    val collCols = schema.fields.collect {
      case f if f.dataType.isInstanceOf[ArrayType] ||
        f.dataType.isInstanceOf[MapType] ||
        f.dataType.isInstanceOf[StructType] => f.name
    }.toSeq
    // collection AND counter columns carry a per-cell op marker; scalar
    // non-key non-counter columns carry a per-cell tombstone marker
    // (`_del_<c>`) so `DELETE col FROM …` can kill ONE cell (collections
    // express it as a `set`-to-null op; counter deletes are not modeled)
    val opCols = collCols ++ t.counterKeys
    val keyset = (t.partitionKeys ++ t.clusteringKeys).map(_.toLowerCase).toSet
    val tombCols = schema.fields.collect {
      case f if !keyset(f.name.toLowerCase) && !opCols.contains(f.name) =>
        f.name
    }.toSeq
    val logSchema = StructType(
      schema.fields.toSeq ++
        opCols.map(c => StructField(opCol(c), StringType)) ++
        tombCols.map(c => StructField(s"_del_$c", BooleanType)) ++
        Seq(StructField("_marker", BooleanType),
          StructField("_writetime", LongType, nullable = false),
          StructField("_ttl", LongType),
          StructField("_deleted", BooleanType, nullable = false)))
    val base = t.df.select(
      schema.fieldNames.map(col).toSeq ++
        collCols.map(c => when(col(c).isNotNull, lit("set")).as(opCol(c))) ++
        t.counterKeys.map(c => when(col(c).isNotNull, lit("incr")).as(opCol(c))) ++
        tombCols.map(c => lit(null).cast("boolean").as(s"_del_$c")) ++
        Seq(lit(true).as("_marker"), // seeded rows are full rows (INSERTs)
          lit(0L).as("_writetime"), lit(null).cast("long").as("_ttl"),
          lit(false).as("_deleted")): _*)
    TableState(schema, t.partitionKeys, t.clusteringKeys,
      t.staticKeys, t.counterKeys, logSchema, base, Vector.empty)
  }

  /** ALTER support: flush `flushed` (the log of `t`, its cells possibly
    * widened) and reshape it to the data model with columns added/dropped
    * (added cells read null until written — upstream's lazily-null new
    * column; dropped cells are discarded, the `DroppedColumn` record's
    * effect). */
  def reshape(t: TableState, flushed: DataFrame, newSchema: StructType,
      statics: Seq[String], counters: Seq[String]): TableState = {
    val shell = mkState(CqlTable(
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], newSchema),
      t.partitionKeys, t.clusteringKeys, statics, counters))
      .copy(clusteringDesc = t.clusteringDesc, defaultTtl = t.defaultTtl)
    val base = flushed.select(shell.logSchema.fields.toSeq.map { f =>
      if (flushed.columns.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
    shell.copy(base = base)
  }

  /** TRUNCATE: an empty, driver-local log; the old files are retired. */
  def truncate(key: String, t: TableState): Unit = {
    tables(key) = t.copy(
      base = spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], t.logSchema),
      pending = Vector.empty, localOnly = true)
    retireBase(key)
  }

  /** RENAME of primary-key column `from` (its exact name) to `to`. */
  def renameKey(t: TableState, from: String, to: String): TableState = {
    def ren(f: StructField) =
      if (f.name.equalsIgnoreCase(from)) f.copy(name = to) else f
    def renSeq(xs: Seq[String]) =
      xs.map(n => if (n.equalsIgnoreCase(from)) to else n)
    t.copy(
      schema = StructType(t.schema.fields.map(ren)),
      logSchema = StructType(t.logSchema.fields.map(ren)),
      base = t.base.withColumnRenamed(from, to),
      partitionKeys = renSeq(t.partitionKeys),
      clusteringKeys = renSeq(t.clusteringKeys))
  }

  /** DROP TABLE: forget the log and its catalog snapshots, and retire
    * their files. False if unknown. */
  def drop(key: String): Boolean = {
    val known = tables.remove(key).isDefined
    retireBase(key)
    import scala.jdk.CollectionConverters._
    snapshotCache.keySet.asScala.filter(_._1 == key).toSeq.foreach { slot =>
      retire(slot, Option(snapshotCache.remove(slot)).map(_._2).toSeq)
    }
    known
  }

  // ——— reads ———

  /** The table's full log: initial data plus ONE local-rows union. */
  def log(t: TableState): DataFrame =
    if (t.pending.isEmpty) t.base
    else t.base.unionByName(spark.createDataFrame(
      java.util.Arrays.asList(t.pending: _*), t.logSchema))

  /** Partition and range tombstones (row deletes with a null clustering
    * SUFFIX) shadow every strictly-older cell under their prefix (upstream
    * `DeletionTime` / `RangeTombstone` [U]). One window per prefix length
    * k: tombstones with exactly k clustering keys set shadow within their
    * (pk, ck1..ckk) group. Static rows (all-null clustering) sit in the
    * null groups of k ≥ 1 windows, where no such tombstone can exist — so
    * ONLY the k=0 (partition) tombstone shadows statics, as upstream.
    * Clustering depth is schema-bounded (≤3 in practice), so this is a
    * fixed, small number of same-keyed windows.
    *
    * The read view drops each tombstone row in its own fold (wt > wt is
    * false), so downstream reconciles see only surviving cells; the row
    * reconcile handles a no-clustering table's row deletes itself.
    * Compaction (`keepTombstones`) retains the tombstone rows and also runs
    * the k=0 window on a no-clustering table, so partition tombstones
    * shadow there too. */
  private def prefixShadowed(t: TableState, lg: DataFrame,
      keepTombstones: Boolean): DataFrame = {
    val depth =
      if (keepTombstones) math.max(t.clusteringKeys.size, 1)
      else t.clusteringKeys.size
    (0 until depth).foldLeft(lg) { (cur, k) =>
      val setCks = t.clusteringKeys.take(k)
      val nullCks = t.clusteringKeys.drop(k)
      val isTomb = (col("_deleted") +: (
        setCks.map(col(_).isNotNull) ++ nullCks.map(col(_).isNull)))
        .reduce(_ && _)
      val w = Window.partitionBy((t.partitionKeys ++ setCks).map(col): _*)
      val wt = max(when(isTomb, col("_writetime"))).over(w)
      val unshadowed =
        if (keepTombstones) col("_deleted") || col("_rt_wt").isNull
        else col("_rt_wt").isNull
      cur.withColumn("_rt_wt", wt)
        .filter(unshadowed || col("_writetime") > col("_rt_wt"))
        .drop("_rt_wt")
    }
  }

  /** Reconciled read view of a table's current log. `nowUs` (epoch micros)
    * enables cell-level TTL expiry for cells written `USING TTL`. */
  def viewOf(t: TableState, nowUs: Option[Long] = None): DataFrame = {
    val lg = prefixShadowed(t, log(t), keepTombstones = false)
    val regular = regularCols(t)
    if (t.staticKeys.isEmpty)
      CassandraModel.reconcileView(lg, keyCols(t), regular, nowUs)
    else {
      // Regular cells resolve per (pk, ck); static cells per pk across the
      // whole partition — and row tombstones do NOT shadow them (upstream:
      // a row delete is not a partition delete [U db/rows/Row.java]).
      val regLog =
        if (t.clusteringKeys.isEmpty) lg
        else lg.filter(t.clusteringKeys.map(col(_).isNotNull).reduce(_ && _))
      val reg = CassandraModel.reconcileView(regLog, keyCols(t), regular, nowUs)
      val st = CassandraModel.reconcileView(
          lg.filter(!col("_deleted")), t.partitionKeys, t.staticKeys, nowUs)
        .drop("_writetime")
      // FULL outer: a partition whose rows are all gone but whose static
      // cell lives still answers with one "phantom" row of null clustering
      // and regular columns (upstream static-row semantics)
      reg.join(st, t.partitionKeys, "full")
    }
  }

  /** The surviving subset of a table's op-log under latest-wins — the
    * session's major-compaction kernel [U db/compaction/CompactionTask]:
    *
    *  - rows strictly older than a covering partition/range tombstone die
    *    (the same prefix-shadow fold the read path applies), tombstone
    *    rows themselves are RETAINED — a retained tombstone still shadows
    *    a late-arriving older write, exactly why upstream keeps them
    *    through gc_grace (the session never purges; the grace-purge
    *    decision is the c11/c12 operator surface);
    *  - a data row is retained iff it still CONTRIBUTES: some scalar cell
    *    or the INSERT row-marker of it is the newest no-TTL-shadowed
    *    event of that channel for its key (ties retained — at equal
    *    writetimes reconcile breaks ties by value/delete, so both sides
    *    stay), or it carries any collection/counter op (those fold
    *    order-dependently and are never dropped);
    *  - a channel event younger than every no-TTL event survives even
    *    when currently shadowed by a TTL'd write: when that write
    *    expires, the read view falls back to it.
    *
    * Reconciling the surviving subset equals reconciling the full log
    * for every SELECT / writetime() / ttl() at every future `nowUs`
    * (CqlCompactionSpec pins this over random mutation scripts). */
  private def compactedLog(t: TableState, lg0: DataFrame): DataFrame = {
    val folded = prefixShadowed(t, lg0, keepTombstones = true)
    val fields = t.logSchema.fieldNames.toSeq
    val opColumns = fields.filter(_.startsWith("_op_"))
    def chan(event: Column, wkeys: Seq[String]): Column = {
      val w = Window.partitionBy(wkeys.map(col): _*)
      // only a NO-TTL event permanently shadows: a TTL'd winner expires
      // and the next-newest cell resurfaces at read time
      val killWt = max(when(event && col("_ttl").isNull,
        col("_writetime"))).over(w)
      event && (killWt.isNull || col("_writetime") >= killWt)
    }
    def cellEvent(c: String): Column = {
      val del =
        if (fields.contains(s"_del_$c")) coalesce(col(s"_del_$c"), lit(false))
        else lit(false)
      col(c).isNotNull || del
    }
    val regulars = dataCols(t)
      .filterNot(c => keyCols(t).contains(c) || t.staticKeys.contains(c))
      .filterNot(c => opColumns.contains(opCol(c)))
    val statics = t.staticKeys.filterNot(c => opColumns.contains(opCol(c)))
    val keeps =
      Seq(col("_deleted"),
        chan(coalesce(col("_marker"), lit(false)), keyCols(t))) ++
        opColumns.map(oc => col(oc).isNotNull) ++
        regulars.map(c => chan(cellEvent(c), keyCols(t))) ++
        statics.map(c => chan(cellEvent(c), t.partitionKeys))
    // window expressions must materialize before the filter sees them
    folded.withColumn("_keep", keeps.reduce(_ || _))
      .filter(col("_keep")).select(fields.map(col): _*)
  }

  /** The log rows of one partition as Catalyst rows: the base log through
    * a scan with the key filter pushed down (no scan while the table is
    * localOnly), plus the matching pending rows, filtered on the driver.
    * `pk` holds one non-null Catalyst value per partition-key column. */
  def partitionLog(t: TableState, pk: Seq[Any]): Seq[InternalRow] = {
    val toCat = CatalystTypeConverters.createToCatalystConverter(t.logSchema)
    val pkF = t.partitionKeys.map(logField(t, _))
    val base =
      if (t.localOnly) Seq.empty[Row]
      else t.base.filter(pkF.zip(pk).map { case (f, v) =>
        col(f.name) === org.apache.spark.sql.GraftShim.column(
          Literal(v, f.dataType))
      }.reduce(_ && _)).collect().toSeq
    val pkI = pkF.map(f => t.logSchema.fieldIndex(f.name))
    val pkCat = pkF.map(f =>
      CatalystTypeConverters.createToCatalystConverter(f.dataType))
    val pkOrd = pkF.map(f => PhysicalDataType.ordering(f.dataType))
    val pending = t.pending.filter(r => pkI.indices.forall { j =>
      !r.isNullAt(pkI(j)) &&
        pkOrd(j).compare(pkCat(j)(r.get(pkI(j))), pk(j)) == 0
    })
    (base ++ pending).map(r => toCat(r).asInstanceOf[InternalRow])
  }

  /** The LWT read of the row at full primary key `kv` (column → value, as
    * the statement's cells carry them) of a scalar table — driver-local or
    * file-backed, the same eligibility as a partition SELECT: the
    * partition fold, then the addressed row's cells as column → value. */
  def rowAt(t: TableState,
      kv: Map[String, Any]): Option[String => Any] = {
    def cat(k: String): Any = CatalystTypeConverters
      .createToCatalystConverter(logField(t, k).dataType)(kv(k))
    val schema = foldSchema(t)
    val nPk = t.partitionKeys.size
    val ck = t.clusteringKeys.map(cat)
    val ckOrd = t.clusteringKeys.map(k =>
      PhysicalDataType.ordering(logField(t, k).dataType))
    foldPartition(t, partitionLog(t, t.partitionKeys.map(cat))).find { r =>
      ck.indices.forall(j => !r.isNullAt(nPk + j) && ckOrd(j).compare(
        r.get(nPk + j, schema(nPk + j).dataType), ck(j)) == 0)
    }.map { r =>
      val cells = schema.fields.indices.map { i =>
        val dt = schema(i).dataType
        schema(i).name -> CatalystTypeConverters.createToScalaConverter(dt)(
          if (r.isNullAt(i)) null else r.get(i, dt))
      }.toMap
      (n: String) => cells.getOrElse(n, null)
    }
  }

  // ——— writes ———

  /** Bulk-append `df` — already validated to be a subset of the table's
    * data columns including the full primary key — to the table's upsert
    * log under ONE server-side writetime `ts`: cqlsh `COPY FROM` and the
    * Spark-catalog `INSERT INTO` are the bulk-load surface, which upstream
    * also stamps with a single mutation timestamp per batch
    * [U pylib/cqlshlib/copyutil.py]. `surface` names the verb in errors;
    * `beforeCommit` is INSERT OVERWRITE's truncate. The load is MATERIALIZED
    * before it is appended (the memtable-flush moment): a lazy union would
    * re-execute the source plan on every later read — wrong for a
    * non-deterministic insert query (rand() keys would change between
    * reads) and fragile for a source file later deleted. One distributed
    * parquet write, then the log references immutable bytes through
    * [[commitLogFiles]]. */
  def bulkLoad(key: String, t: TableState, df: DataFrame, ts: Long,
      surface: String, beforeCommit: () => Unit = () => ()): Unit = {
    val shaped0 = df.select(t.logSchema.fields.toSeq.map { f =>
      val n0 = f.name
      if (df.columns.exists(_.equalsIgnoreCase(n0)))
        col(df.columns.find(_.equalsIgnoreCase(n0)).get)
          .cast(f.dataType).as(n0)
      else if (n0.startsWith("_op_")) {
        val src = n0.stripPrefix("_op_")
        if (df.columns.exists(_.equalsIgnoreCase(src)))
          when(col(src).isNotNull, lit("set")).as(n0)
        else lit(null).cast(StringType).as(n0)
      }
      else if (n0 == "_marker") lit(true).as(n0)
      else if (n0 == "_writetime") lit(ts).as(n0)
      else if (n0 == "_ttl")
        t.defaultTtl.map(v => lit(v)).getOrElse(lit(null))
          .cast(LongType).as(n0)
      else if (n0 == "_deleted") lit(false).as(n0)
      else lit(null).cast(f.dataType).as(n0)
    }: _*)
    val dir = dirFor(DirKind.BulkLoad, key, "", ts)
    shaped0.write.mode("overwrite").parquet(dir)
    commitLogFiles(key, spark.read.schema(t.logSchema).parquet(dir),
      surface, "bulk load", beforeCommit)
  }

  /** The one log commit of bulk loads ([[bulkLoad]]) and catalog deltas:
    * `rows` reads materialized log-schema parquet files stamped with the
    * statement's timestamps; their directories join the base's files.
    * Every check runs against the exact bytes that become the log — not a
    * re-execution of a possibly non-deterministic source — and fails
    * BEFORE any visible state change: the row checks ([[checkLogRows]]),
    * then the CDC space bound. `beforeCommit` (a destructive prelude: INSERT OVERWRITE's
    * truncate) runs only once the replacement data exists and has passed
    * them.
    *
    * A CDC table gets its segment BEFORE the state swap (per-row parity: a
    * statement never commits state without its CDC durability —
    * withPendingRollback rolls the per-row path back when emission fails;
    * here the lesser evil on a mid-write crash is a phantom segment, the
    * same exposure upstream's commitlog-first ordering has). The files
    * already ARE log-schema parquet, so the emission is a FILE-LEVEL copy
    * of `rows.inputFiles`: one cdc file per load part file or delta
    * segment under one shared `_writetime`, with the write's own
    * parallelism and no re-serialization job. Every CDC contract is
    * file-granular already: cdcStream's file source reads the files in
    * order with _writetime totally ordering rows, cdcReap deletes by file
    * mtime, and the system_views.cdc accounting is dirBytes, not a file
    * count. Hadoop FS API: the source and cdc dirs may be shared
    * filesystems on a cluster. Driver memory is O(files), never O(rows). */
  def commitLogFiles(key: String, rows: DataFrame,
      surface: String, carrier: String,
      beforeCommit: () => Unit = () => ()): Unit = {
    checkLogRows(tables(key), rows, surface, carrier)
    val cdc = cdcTables.contains(key)
    if (cdc) cdcGuardSpace(key)
    epoch += 1
    val files = rows.inputFiles.map(new org.apache.hadoop.fs.Path(_))
    if (cdc) {
      val hconf = org.apache.spark.sql.GraftShim.sessionHadoopConf(spark)
      val dstDir = new org.apache.hadoop.fs.Path(cdcDir(key))
      val dstFs = dstDir.getFileSystem(hconf)
      dstFs.mkdirs(dstDir)
      files.zipWithIndex.foreach { case (src, i) =>
        org.apache.hadoop.fs.FileUtil.copy(src.getFileSystem(hconf), src,
          dstFs, new org.apache.hadoop.fs.Path(dstDir,
            s"commit-$epoch-$i.parquet"),
          false, hconf)
      }
    }
    beforeCommit()
    // re-read the state: beforeCommit may have truncated (INSERT OVERWRITE)
    val t = tables(key)
    tables(key) = t.copy(base = log(t).unionByName(rows),
      pending = Vector.empty, localOnly = false)
    live(key) = live.getOrElse(key, Nil) ++
      files.map(_.getParent.toString).distinct
  }

  /** The row checks of every bulk and delta commit, run on the
    * MATERIALIZED log rows before any state change: no null primary key
    * (the COPY FROM contract), and declared vector<T, n> dimensions hold
    * — the same invariant as the session's per-cell check. `surface` and
    * `carrier` name the statement in the errors. */
  private def checkLogRows(t: TableState, rows: DataFrame, surface: String,
      carrier: String): Unit = {
    if (!rows.filter(keyCols(t).map(col(_).isNull).reduce(_ || _)).isEmpty)
      throw new CqlInvalidQueryException(
        s"$surface: a row carries a null primary key value")
    t.schema.fields.foreach { f =>
      if (f.metadata.contains(VectorDimKey)) {
        val dim = f.metadata.getLong(VectorDimKey).toInt
        if (!rows.filter(col(f.name).isNotNull &&
            size(col(f.name)) =!= dim).isEmpty)
          throw new CqlInvalidQueryException(
            s"Invalid vector value for ${f.name}: expected $dim elements " +
              s"($carrier carries a wrong-dimension vector)")
      }
    }
  }

  /** One unique staging directory for a DSv2 delta write's executor-
    * spilled parquet segments ([[dirFor]] names it). Resolved through the
    * Hadoop FS API with the SESSION's conf: java.io.File mangles URI-style
    * roots (hdfs://, s3a://) into bogus local paths, and a bare
    * Configuration would drop spark.hadoop.* FS settings/credentials. */
  def newDeltaStagingDir(key: String): String = {
    val hconf = org.apache.spark.sql.GraftShim.sessionHadoopConf(spark)
    val dir = new org.apache.hadoop.fs.Path(dirFor(DirKind.Delta, key, "",
      java.util.UUID.randomUUID()))
    val fs = dir.getFileSystem(hconf)
    fs.mkdirs(dir)
    fs.makeQualified(dir).toString
  }

  /** Delete staged segments that did not become log bytes (best effort;
    * the root's shutdown hook and DFS lifecycle rules are the backstop). */
  def discardSegments(segments: Seq[String]): Unit =
    segments.foreach(graft.spark.GraftDeltaWriter.deleteSegment(_,
      spark.sparkContext.hadoopConfiguration))

  /** Compile the writer-side shaping plan for a DSv2 delta write (r18
    * single-write — guide §5/§6 "write once": the executor spill becomes
    * the fold's materialization, so no distributed MERGE/UPDATE/DELETE
    * runs a commit-side delta-sized read+shape+rewrite job). The writer
    * copies Catalyst values VERBATIM, with no cast machinery, so every
    * mapped data/id column's type must equal its log-schema field's type.
    * The rewrite projects the table's own columns, so that parity holds
    * for every table shape; a miss is an engine bug and fails loudly.
    *
    * Takes the statement's two coordinator timestamps from `nextTs` HERE,
    * on the driver, before the job: deletes commit at `tsDel`, upserts at
    * `tsUp = tsDel + 1`. That order is the key-move collision rule (r18 —
    * it replaced the r17 count-based anti-join elision, which was UNSOUND
    * for MERGE with a non-key-equality ON condition: a NOT-MATCHED source
    * row can INSERT a key that a MATCHED / NOT-MATCHED-BY-SOURCE branch
    * simultaneously DELETEs with zero key-moving UPDATEs, and at one
    * shared timestamp the tombstone wins the tie and silently erases the
    * inserted row — advisor find). The statement's semantics — a delete
    * whose key is also upserted is redundant against the complete
    * post-image (the per-row path's `effDeletes` filter) — hold by
    * TIMESTAMP ORDER instead of a join: the reconcile's strict writetime
    * comparison resolves every same-statement delete/upsert key collision
    * toward the upsert, with NO collision-set computation at any delta
    * size. Deletes at tsDel still shadow every pre-statement write
    * (tsDel > all prior timestamps), and the visible cells of one
    * statement still carry ONE writetime — tombstoned rows answer no
    * WRITETIME query. */
  def deltaShapePlan(table: String, t: TableState, dataSchema: StructType,
      idSchema: StructType, nextTs: () => Long)
      : graft.spark.GraftDeltaShapePlan = {
    val dataSet = dataSchema.fieldNames.map(_.toLowerCase).toSet
    def dataIdx(n: String): Int =
      dataSchema.fieldNames.indexWhere(_.equalsIgnoreCase(n))
    def idIdx(n: String): Int =
      idSchema.fieldNames.indexWhere(_.equalsIgnoreCase(n))
    for (f <- t.logSchema.fields;
         (sch, i) <- Seq(dataSchema -> dataIdx(f.name),
           idSchema -> idIdx(f.name))
         if i >= 0 && sch(i).dataType != f.dataType)
      throw new IllegalStateException(
        s"delta write on $table: column ${f.name} arrives as " +
          s"${sch(i).dataType.catalogString} but the log stores " +
          s"${f.dataType.catalogString}")
    val fields = t.logSchema.fields.map { f =>
      val n0 = f.name
      if (n0 == "_marker") graft.spark.GraftDeltaFieldSpec(3, -1, -1)
      else if (n0 == "_writetime") graft.spark.GraftDeltaFieldSpec(4, -1, -1)
      else if (n0 == "_ttl") graft.spark.GraftDeltaFieldSpec(5, -1, -1)
      else if (n0 == "_deleted") graft.spark.GraftDeltaFieldSpec(6, -1, -1)
      else if (n0.startsWith("_op_")) {
        val src = n0.stripPrefix("_op_")
        graft.spark.GraftDeltaFieldSpec(1,
          if (dataSet(src.toLowerCase)) 0 else -1, -1)
      } else if (n0.startsWith("_del_")) {
        val src = n0.stripPrefix("_del_")
        graft.spark.GraftDeltaFieldSpec(2, dataIdx(src), -1)
      } else graft.spark.GraftDeltaFieldSpec(0, dataIdx(n0), idIdx(n0))
    }
    val tsDel = nextTs()
    val tsUp = nextTs()
    graft.spark.GraftDeltaShapePlan(t.logSchema, fields, tsDel, tsUp,
      t.defaultTtl)
  }

  /** Statement-level all-or-nothing: snapshot every table's pending
    * vector (immutable — O(tables) references) and restore on ANY
    * failure, so a mid-statement error (e.g. a trigger failing on the
    * 2nd statement of a BATCH or of an IN-expanded write) cannot leave
    * the earlier mutations applied. Upstream TriggerExecutor likewise
    * augments the COMPLETE mutation set before applying any of it. */
  def withPendingRollback[A](f: => A): A = {
    val snap = tables.toSeq.map { case (n, st) => (n, st.pending) }
    try {
      val out = f
      // CDC hook (4.0 `cdc = true` [U db/commitlog/CommitLogSegment-
      // ManagerCDC]): the statement COMMITTED — its newly appended
      // mutation rows are exactly the pending-vector delta vs the
      // snapshot, so a rolled-back statement (the catch below) can never
      // leak a phantom segment, trigger-augmented writes ride along, and
      // a BATCH lands as one segment per touched table (upstream: one
      // mutation per table per batch).
      if (cdcTables.nonEmpty) emitCdcDeltas(snap)
      out
    } catch {
      case e: Throwable =>
        snap.foreach { case (n, p) => tables.get(n).foreach(_.pending = p) }
        throw e
    }
  }

  // ——— change-data-capture (4.0 `cdc` table option [U TableParams.cdc,
  // db/commitlog/CommitLogSegmentManagerCDC]): committed mutations of a
  // cdc-enabled table also land, in commit order, as parquet segments in
  // the table's cdc_raw-analogue directory — which a Spark streaming
  // consumer tails (file source; at real scale the dir is an object-store
  // prefix and maxFilesPerTrigger bounds each batch). Segments carry the
  // RAW mutation rows (the upsert-log schema: data cells +
  // _marker/_writetime/_ttl/_deleted/_op_*/_del_*) — the same granularity
  // upstream CDC consumers read from commitlog segments. ———

  private def cdcDir(key: String): String = dirFor(DirKind.Cdc, key, "", "")

  /** A FRESH cdc table must not inherit a dropped predecessor's segments
    * (ALTER re-enable, by contrast, keeps them — upstream cdc_raw files
    * survive a toggle). */
  def clearCdc(key: String): Unit = removeDir(cdcDir(key))

  /** `spark.graft.cdc.total_space_in_mb` — the cdc_raw space bound
    * (upstream `cdc_total_space` [U db/commitlog/
    * CommitLogSegmentManagerCDC]: when the consumer falls behind and the
    * dir fills, writes to CDC-enabled tables are REJECTED, not silently
    * dropped — the backpressure that makes CDC safe to enable). Unset =
    * unbounded (the engine deviates from upstream's 4 GiB default so
    * fixture sessions never trip it unconfigured; operators set it).
    * Surfaces in `system_views.settings` like every live conf. */
  private def cdcSpaceLimitBytes: Option[Long] =
    spark.conf.getOption("spark.graft.cdc.total_space_in_mb")
      .map(_.trim.toLong).filter(_ >= 0).map(_ * 1024L * 1024L)

  /** Reject the mutation when the cdc segments of all tables are at the
    * configured bound. Thrown INSIDE the session's statement rollback, so
    * the whole statement rolls back — the upstream contract (the write
    * fails; it is never applied locally but lost to CDC). */
  private def cdcGuardSpace(tbl: String): Unit =
    cdcSpaceLimitBytes.foreach { lim =>
      if (dirBytes(s"$root/${DirKind.Cdc.name}") >= lim)
        throw new CqlInvalidQueryException(
          s"Rejecting mutation to CDC-enabled table $tbl: cdc_raw is at " +
            s"cdc_total_space (${lim / 1048576L} MiB) — consume and reap " +
            "segments (cdcReap) to free space")
    }

  /** The statement that ran since `snap` (table → pending rows before it)
    * COMMITTED: its newly appended mutation rows on cdc tables land as one
    * segment per touched table. */
  private def emitCdcDeltas(snap: Seq[(String, Vector[Row])]): Unit = {
    val before = snap.toMap
    // collect every table's fresh rows FIRST and space-check before any
    // segment is written: a multi-table batch must reject atomically,
    // never leave a phantom segment for the first table and roll back
    // the second
    val fresh = cdcTables.toSeq.sorted.flatMap { tbl =>
      tables.get(tbl).toSeq.map { st =>
        (tbl, st.logSchema,
          st.pending.drop(before.get(tbl).map(_.length).getOrElse(0)))
      }
    }.filter(_._3.nonEmpty)
    fresh.headOption.foreach { case (tbl, _, _) => cdcGuardSpace(tbl) }
    fresh.foreach { case (tbl, schema, rows) => appendCdc(tbl, rows, schema) }
  }

  /** Append a replica's micro-batch of raw log rows (CDC segment rows of
    * another session) to `t`'s pending log as one statement: on a
    * cdc-enabled replica the batch surfaces to downstream consumers as one
    * segment (chain replication), and a rejected segment leaves the
    * replica untouched (the upstream contract). Returns the highest
    * applied writetime, None for an empty batch. */
  def applyLogRows(table: String, t: TableState,
      batch: DataFrame): Option[Long] = {
    val expect = t.logSchema.fields.map(f => f.name -> f.dataType).toSeq
    val got = batch.schema.fields.map(f => f.name -> f.dataType).toSeq
    if (got != expect)
      throw new CqlInvalidQueryException(
        s"applyCdcBatch($table): batch schema does not match the " +
          s"table's mutation log (got ${got.map(_._1).mkString(",")})")
    val rows = batch.collect().toVector // a micro-batch: bounded by design
    if (rows.isEmpty) None
    else withPendingRollback {
      epoch += 1
      t.pending = t.pending ++ rows
      val wtIdx = t.logSchema.fieldIndex("_writetime")
      Some(rows.iterator.map(_.getLong(wtIdx)).max)
    }
  }

  /** One cdc segment of `rows` for table `key`. */
  private def appendCdc(key: String, rows: Seq[Row],
      schema: StructType): Unit = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
      .coalesce(1).write.mode("append").parquet(cdcDir(key))
  }

  /** A file-source stream over `key`'s cdc segments in the log schema of
    * `t`; rows arrive in commit order within a segment and `_writetime`
    * totally orders them across segments. */
  def cdcStream(key: String, t: TableState,
      maxFilesPerTrigger: Int): DataFrame = {
    // the dir exists once the first segment lands; stage it so stream
    // construction over a brand-new cdc table does not throw
    new java.io.File(cdcDir(key)).mkdirs()
    val reader = spark.readStream.schema(t.logSchema)
    (if (maxFilesPerTrigger > 0)
       reader.option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
     else reader).parquet(cdcDir(key))
  }

  /** Cumulative bytes each table's consumers have reaped from cdc_raw —
    * the other half of `system_views.cdc`'s disk accounting. */
  private val cdcReaped = mutable.Map.empty[String, Long]

  /** Delete `key`'s cdc segment files last modified at or before
    * `throughMillis`; returns the bytes freed. */
  def reapCdc(key: String, throughMillis: Long): Long = {
    val dir = new java.io.File(cdcDir(key))
    if (!dir.isDirectory) return 0L
    var freed = 0L
    dir.listFiles().foreach { f =>
      if (f.isFile && f.lastModified() <= throughMillis) {
        val n = f.length()
        if (f.delete()) freed += n
      }
    }
    if (freed > 0) cdcReaped(key) = cdcReaped.getOrElse(key, 0L) + freed
    freed
  }

  // ——— snapshots ———

  /** Per-epoch parquet snapshot of a table's reconciled read view — the
    * flush/SSTable analogue the Spark catalog serves — per (table,
    * rendering): (epoch, dir, schema). Rewritten only when the mutation
    * epoch moved, except by the table's own COMPACT ([[carrySnapshots]]);
    * the epoch is part of the directory name so Spark-side file-index
    * caches never see a mutated directory. */
  private val snapshotCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), (Long, String, StructType)]()

  /** The current epoch's snapshot of `key` in `rendering`, if written. */
  def cachedSnapshot(key: String,
      rendering: String): Option[(String, StructType)] =
    Option(snapshotCache.get((key, rendering))).filter(_._1 == epoch)
      .map(c => (c._2, c._3))

  /** Write `df` as this epoch's snapshot of `key` in `rendering` (a
    * `virtual` table, whose rows are built per read, gets a fresh
    * directory per read) and retire the snapshot it supersedes. */
  def writeSnapshot(key: String, rendering: String, virtual: Boolean,
      df: DataFrame): (String, StructType) = {
    val gen =
      if (virtual) s"${epoch}_${System.nanoTime()}" else epoch.toString
    val dir = dirFor(DirKind.Epoch, key, rendering, gen)
    df.write.mode("overwrite").parquet(dir)
    val prev = snapshotCache.put((key, rendering), (epoch, dir, df.schema))
    retire((key, rendering), Option(prev).map(_._2).toSeq)
    (dir, df.schema)
  }

  /** COMPACT moved `key` to `epoch` without changing its read view (the
    * surviving subset reconciles to the same rows, [[compactedLog]]): its
    * snapshots written at epoch `from` serve the new epoch as they are,
    * so the next catalog read does not rebuild one. */
  private def carrySnapshots(key: String, from: Long): Unit =
    snapshotCache.replaceAll { (k, v) =>
      if (k._1 == key && v._1 == from) (epoch, v._2, v._3) else v
    }

  /** (entries, bytes on disk) of the live catalog snapshots. */
  def snapshotStats: (Long, Long) = {
    import scala.jdk.CollectionConverters._
    (snapshotCache.size().toLong,
      snapshotCache.values().asScala.map(c => dirBytes(c._2)).sum)
  }

  // ——— snapshots [U service/SnapshotManager, db/virtual/SnapshotsTable
  // (4.1), cassandra.yaml auto_snapshot] ———
  /** (name, table key) → (created_at session clock, true_size) */
  val snapshots = mutable.LinkedHashMap.empty[(String, String), (Long, Long)]

  /** Auto/unnamed snapshot tags carry a session-unique sequence (the
    * upstream analogue is a millis timestamp tag): the session CLOCK
    * only moves on writes, so clock-stamped names would collide on
    * back-to-back TRUNCATEs of an unwritten table. */
  val snapshotSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Materialize the table's current op-log as an immutable parquet
    * snapshot `name` created at `createdAt` — the sstable-hardlink
    * analogue (a real copy here: the log is partly driver-held rows, not
    * yet files). Idempotent per (name, table): upstream rejects a
    * duplicate snapshot name. */
  def takeSnapshot(name: String, key: String, createdAt: Long): Unit = {
    // a user-facing tag rule (the directory name is escaped anyway)
    if (!name.matches("[A-Za-z0-9_-][A-Za-z0-9._-]*"))
      throw new CqlInvalidQueryException(
        s"invalid snapshot name '$name' (letters, digits, . _ -; must " +
          "not start with a dot)")
    if (snapshots.contains((name, key)))
      throw new CqlInvalidQueryException(
        s"Snapshot $name already exists for table $key")
    val dir = dirFor(DirKind.Snapshot, key, "", name)
    log(tables(key)).write.mode("errorifexists").parquet(dir)
    snapshots((name, key)) = (createdAt, dirBytes(dir))
  }

  /** `CLEAR SNAPSHOT name` on every table; false if no table has it. */
  def clearSnapshot(name: String): Boolean = {
    val hit = snapshots.keys.filter(_._1 == name).toSeq
    hit.foreach { k =>
      removeDir(dirFor(DirKind.Snapshot, k._2, "", name))
      snapshots.remove(k)
    }
    hit.nonEmpty
  }

  // ——— compaction ———

  // `system_views.sstable_tasks` serves the ACTIVE tasks [U db/virtual/
  // SSTableTasksTable.java]; `system.compaction_history` the completed
  // ring [U db/SystemKeyspace.compaction_history]. Units are LOG ROWS,
  // not bytes — the session's sstable analogue is the row-granular
  // op-log (documented deviation; deterministic, hash-gateable).
  private val compactionSeq = new java.util.concurrent.atomic.AtomicLong(0L)
  private val compactionTasks = new java.util.concurrent.ConcurrentHashMap[
    Long, (String, String, String, Long)]() // id → (ks, table, kind, total)
  private val compactionHistory =
    scala.collection.mutable.ArrayBuffer.empty[Row]
  private val CompactionHistoryMax = 256

  /** COMPACT's fold and swap: fold the table's log to its surviving subset
    * ([[compactedLog]]), materialize it as one parquet segment (the
    * flushed-sstable analogue: bounds the driver-held pending rows AND the
    * lineage depth), swap it in as the new base, keep the table's catalog
    * snapshots and retire the files the old base read. The task shows in
    * `compactionTasks` while it runs and lands in `compactionHistory`
    * stamped `stamp`; returns (rows in, rows out). */
  def compact(key: String, t: TableState, ks: String, tbl: String,
      stamp: Long): (Long, Long) = {
    val lg = log(t)
    // rows_merged histogram: how many log rows folded into each key —
    // upstream's sstables-merged histogram at row granularity. Bounded
    // by the distinct per-key row counts (small); driver-side by design.
    // Its counts sum to the log's row count, so the log is scanned once.
    val hist = lg.groupBy(keyCols(t).map(col): _*).count()
      .groupBy("count").count().collect()
      .map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    val rowsIn = hist.map { case (rows, keys) => rows * keys }.sum
    val taskId = compactionSeq.incrementAndGet()
    compactionTasks.put(taskId, (ks, tbl, "Compaction", rowsIn))
    try {
      val survivors = compactedLog(t, lg)
      val dir = dirFor(DirKind.Compacted, key, "", taskId)
      survivors.write.mode("overwrite").parquet(dir)
      val compacted = spark.read.schema(t.logSchema).parquet(dir)
      val rowsOut = compacted.count()
      epoch += 1
      tables(key) = t.copy(base = compacted, pending = Vector.empty,
        localOnly = false)
      carrySnapshots(key, epoch - 1)
      retireBase(key)
      live(key) = Seq(dir)
      if (compactionHistory.size >= CompactionHistoryMax)
        compactionHistory.remove(0)
      compactionHistory += Row(taskId, ks, tbl, stamp, rowsIn, rowsOut, hist)
      (rowsIn, rowsOut)
    } finally compactionTasks.remove(taskId)
  }

  // ——— storage virtual tables [U db/virtual] ———

  /** The storage layer's virtual tables: the active compactions, the
    * snapshots, each table's disk usage, the cdc accounting, the
    * compaction history and the size estimates. `split` maps a table key
    * to its (keyspace, table) names. */
  def storageViews(
      split: String => (String, String)): Map[String, VirtualTable] = {
    import scala.jdk.CollectionConverters._
    // `sstable_tasks` [U db/virtual/SSTableTasksTable]: the ACTIVE
    // compaction tasks (empty at rest, as upstream); unit = log rows
    val sstSchema = StructType(Seq(
      StructField("keyspace_name", StringType),
      StructField("table_name", StringType),
      StructField("task_id", LongType),
      StructField("kind", StringType),
      StructField("progress", LongType),
      StructField("total", LongType),
      StructField("unit", StringType)))
    // `snapshots` [U db/virtual/SnapshotsTable, 4.1]: created_at is the
    // session clock (deterministic), sizes are real on-disk bytes
    val snapSchema = StructType(Seq(
      StructField("name", StringType),
      StructField("keyspace_name", StringType),
      StructField("table_name", StringType),
      StructField("created_at", LongType),
      StructField("true_size", LongType),
      StructField("ephemeral", BooleanType)))
    // `disk_usage` [U db/virtual/TableMetricTables, 4.1]: REAL on-disk
    // bytes of the files each table's base reads — bulk loads, committed
    // delta segments and the compacted segment (the sstable analogues) —
    // plus its snapshots, and the driver-held pending row count (the
    // memtable analogue). A table whose rows all sit in pending reports
    // 0 base bytes.
    val duSchema = StructType(Seq(
      StructField("keyspace_name", StringType),
      StructField("table_name", StringType),
      StructField("base_bytes", LongType),
      StructField("snapshot_bytes", LongType),
      StructField("memtable_rows", LongType)))
    // `cdc` — per cdc-enabled table disk accounting (the disk_usage
    // pattern over cdc_raw): live segment bytes on disk vs cumulative
    // bytes consumers have REAPed. The pair is what an operator watches
    // against cdc_total_space before writes start rejecting.
    val cdcSchema = StructType(Seq(
      StructField("keyspace_name", StringType),
      StructField("table_name", StringType),
      StructField("raw_bytes", LongType),
      StructField("reaped_bytes", LongType)))
    // completed compactions, ring-bounded; compacted_at is the session
    // clock, bytes_in/out are LOG ROW counts (deviation: the session's
    // sstable analogue is row-granular), rows_merged the fold histogram
    val chSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("keyspace_name", StringType),
      StructField("columnfamily_name", StringType),
      StructField("compacted_at", LongType),
      StructField("bytes_in", LongType),
      StructField("bytes_out", LongType),
      StructField("rows_merged", MapType(IntegerType, LongType))))
    Map(
      "system_views.cdc" -> VirtualTable(spark, cdcSchema,
          Seq("keyspace_name"), Seq("table_name")) {
        cdcTables.toSeq.sorted.map { k =>
          Row(split(k)._1, split(k)._2, dirBytes(cdcDir(k)),
            cdcReaped.getOrElse(k, 0L))
        }
      },
      "system_views.sstable_tasks" -> VirtualTable(spark, sstSchema,
          Seq("keyspace_name"), Seq("table_name", "task_id")) {
        compactionTasks.asScala.toSeq.sortBy(_._1).map {
          case (id, (ks, tbl, kind, total)) =>
            Row(ks, tbl, id, kind, 0L, total, "rows")
        }
      },
      "system_views.snapshots" -> VirtualTable(spark, snapSchema,
          Seq("name"), Seq("keyspace_name", "table_name")) {
        snapshots.toSeq.sortBy(_._1).map {
          case ((n, k), (at, size)) =>
            Row(n, split(k)._1, split(k)._2, at, size, false)
        }
      },
      "system_views.disk_usage" -> VirtualTable(spark, duSchema,
          Seq("keyspace_name"), Seq("table_name")) {
        tables.toSeq.sortBy(_._1).map { case (k, t) =>
          val snapBytesT = snapshots.collect {
            case ((_, key), (_, sz)) if key == k => sz
          }.sum
          Row(split(k)._1, split(k)._2, baseBytes(k), snapBytesT,
            t.pending.size.toLong)
        }
      },
      "system.compaction_history" ->
        VirtualTable(spark, chSchema, Seq("id"))(compactionHistory.toSeq),
      "system.size_estimates" -> sizeEstimates(split))
  }

  /** `system.size_estimates` [U db/SizeEstimatesRecorder]: per table one
    * whole-ring range with its partition count and the optimizer's size
    * estimate over that count (an estimate feeding the connector's split
    * planner, as upstream's sstable-metadata guesses are). */
  private def sizeEstimates(
      split: String => (String, String)): VirtualTable = {
    val sSchema = StructType(Seq(
      StructField("keyspace_name", StringType),
      StructField("table_name", StringType),
      StructField("range_start", StringType),
      StructField("range_end", StringType),
      StructField("mean_partition_size", LongType),
      StructField("partitions_count", LongType)))
    val ring = Long.MinValue.toString
    new VirtualTable(sSchema, Seq("keyspace_name"),
        Seq("table_name", "range_start", "range_end"), () => {
      val perTable = tables.toSeq.sortBy(_._1).map { case (n, t) =>
        val v = viewOf(t)
        val bytes = BigInt(v.queryExecution.optimizedPlan.stats.sizeInBytes
          .min(BigInt(Long.MaxValue)).toLong)
        v.agg(count_distinct(
            struct(t.partitionKeys.map(col): _*)).as("pc"))
          .select(lit(split(n)._1).as("keyspace_name"),
            lit(split(n)._2).as("table_name"),
            lit(ring).as("range_start"), lit(ring).as("range_end"),
            when(col("pc") > 0, lit(bytes.toLong) / col("pc"))
              .otherwise(0L).cast(LongType).as("mean_partition_size"),
            col("pc").cast(LongType).as("partitions_count"))
      }
      if (perTable.isEmpty)
        spark.createDataFrame(new java.util.ArrayList[Row](), sSchema)
      else perTable.reduce(_ unionByName _)
    })
  }
}

private[graft] object TableStore {
  /** StructField metadata key carrying a vector column's declared dim. */
  val VectorDimKey = "cql_vector_dim"

  private def opCol(c: String): String = s"_op_$c"

  def dataCols(t: TableState): Seq[String] = t.schema.fieldNames.toSeq

  def keyCols(t: TableState): Seq[String] =
    t.partitionKeys ++ t.clusteringKeys

  /** Non-key, non-static columns: the cells the view reconciles per row. */
  private def regularCols(t: TableState): Seq[String] = dataCols(t)
    .filterNot(c => keyCols(t).contains(c) || t.staticKeys.contains(c))

  def logField(t: TableState, n: String): StructField =
    t.logSchema.fields.find(_.name.equalsIgnoreCase(n)).get

  /** Every cell resolves by the scalar reconcile rule: no collection/UDT/
    * counter op-logs, no per-partition statics. The driver-side partition
    * fold covers exactly these tables. */
  def scalarTable(t: TableState): Boolean =
    t.staticKeys.isEmpty && t.counterKeys.isEmpty &&
      !t.logSchema.fieldNames.exists(_.startsWith("_op_"))

  /** One directory-name part: `[a-z0-9_]` as is, every other character
    * as `-` plus its four hex digits, the empty string as a lone `-` — an
    * injective escape whose output holds no separator, no dot and no
    * upper case. */
  private def segment(s: String): String =
    if (s.isEmpty) "-"
    else s.flatMap { c =>
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '_')
        c.toString
      else f"-${c.toInt}%04x"
    }

  /** The schema of the view on a scalar table: primary key, regular cells,
    * their per-cell writetimes, then the row writetime. */
  def foldSchema(t: TableState): StructType = {
    val regular = regularCols(t)
    StructType(
      (keyCols(t) ++ regular).map(logField(t, _).copy(nullable = true)) ++
        regular.map(c => StructField(s"_writetime_$c", LongType)) :+
        StructField("_writetime", LongType))
  }

  /** Driver-side reconcile of ONE partition's log rows — the same algebra
    * as the view + reconcileView, collapsed to the addressed partition:
    * (1) partition/range tombstones (null clustering suffix) shadow
    * strictly-older rows under their prefix (the view's cascaded prefix
    * windows collapse to one max per row: a tombstone a shallower one
    * shadows could only shadow rows that one shadows already); (2) a row
    * tombstone shadows strictly-older cells of its row; (3) each cell
    * resolves to the (writetime, tombstone-wins-tie, value) winner, values
    * compared by Spark's own ordering of the column type, as max_by does;
    * (4) with an INSERT marker column, a row exists iff a cell or a live
    * marker survives. Rows come out in [[foldSchema]], in DECLARED
    * clustering order (Spark's null placement: first under ASC, last under
    * DESC). Scalar tables only ([[scalarTable]]); TTL is not applied, as
    * in the engine's view. Equivalence with the Spark view is pinned by
    * CqlPartitionFoldSpec and CqlLwtFastPathSpec. */
  def foldPartition(t: TableState,
      part: Seq[InternalRow]): Seq[InternalRow] = {
    val ls = t.logSchema
    def idx(n: String) = ls.fieldIndex(logField(t, n).name)
    val wtI = idx("_writetime"); val delI = idx("_deleted")
    def opt(n: String) = Some(ls.fieldNames.indexOf(n)).filter(_ >= 0)
    val mkI = opt("_marker")
    val keyI = keyCols(t).map(idx).toArray
    val keyT = keyI.map(ls(_).dataType)
    val nPk = t.partitionKeys.size
    val nCk = t.clusteringKeys.size
    val ckOrd = keyT.drop(nPk).map(PhysicalDataType.ordering)
    val desc = (t.clusteringDesc ++ Seq.fill(nCk)(false)).take(nCk)
    // grouping keys compare as Spark groups them: -0.0 = 0.0, NaN = NaN,
    // emitted in normal form
    def norm(v: Any): Any = v match {
      case d: Double => if (d.isNaN) Double.NaN else if (d == 0.0d) 0.0d else d
      case f: Float => if (f.isNaN) Float.NaN else if (f == 0.0f) 0.0f else f
      case o => o
    }
    final class LogRow(val r: InternalRow) {
      val key: Array[Any] = keyI.indices.map(j =>
        if (r.isNullAt(keyI(j))) null else norm(r.get(keyI(j), keyT(j)))).toArray
      def ck(j: Int): Any = key(nPk + j)
      val wt: Long = r.getLong(wtI)
      val deleted: Boolean = r.getBoolean(delI)
      /** prefix length of a partition/range tombstone */
      val tombLevel: Int = {
        val k = (0 until nCk).takeWhile(ck(_) != null).size
        if (deleted && k < nCk && (k until nCk).forall(ck(_) == null)) k
        else -1
      }
    }
    def ckEq(a: LogRow, b: LogRow, j: Int): Boolean =
      a.ck(j) != null && b.ck(j) != null &&
        ckOrd(j).compare(a.ck(j), b.ck(j)) == 0
    val rows = part.map(new LogRow(_))
    // (1) prefix shadow: a tombstone applies to itself, so each dies here
    val tombs = rows.filter(_.tombLevel >= 0)
    val survivors = rows.filter { x =>
      !tombs.exists(tb => tb.wt >= x.wt &&
        (0 until tb.tombLevel).forall(ckEq(tb, x, _)))
    }
    // declared clustering order; rows of one clustering key end adjacent
    def cmpCk(a: LogRow, b: LogRow): Int = {
      var c = 0; var j = 0
      while (c == 0 && j < nCk) {
        c = (a.ck(j), b.ck(j)) match {
          case (null, null) => 0
          case (null, _) => if (desc(j)) 1 else -1
          case (_, null) => if (desc(j)) -1 else 1
          case (x, y) =>
            val o = ckOrd(j).compare(x, y)
            if (desc(j)) -o else o
        }
        j += 1
      }
      c
    }
    val sorted = survivors.sortWith(cmpCk(_, _) < 0)
    val groups = scala.collection.mutable.ArrayBuffer.empty[Seq[LogRow]]
    var i = 0
    while (i < sorted.size) {
      var e = i + 1
      while (e < sorted.size && cmpCk(sorted(i), sorted(e)) == 0) e += 1
      groups += sorted.slice(i, e)
      i = e
    }
    val regular = regularCols(t).map(c => (idx(c), ls(idx(c)).dataType,
      opt(s"_del_$c")))
    val valOrd = regular.map { case (_, dt, _) => PhysicalDataType.ordering(dt) }
    val hasMarker = mkI.isDefined && regular.nonEmpty
    groups.toSeq.flatMap { g =>
      // (2) the row tombstone
      val rowTomb = g.filter(_.deleted).map(_.wt).maxOption
      val live = g.filter(x => !x.deleted && rowTomb.forall(x.wt > _))
      if (live.isEmpty) None
      else {
        // (3) per-cell (writetime, tombstone, value) winner: max_by keeps
        // the first of equal candidates
        val cells = regular.indices.map { ci =>
          val (cI, dt, dI) = regular(ci)
          var best: (Long, Boolean, Any) = null
          live.foreach { x =>
            val tomb = dI.exists(d => !x.r.isNullAt(d) && x.r.getBoolean(d))
            val v = if (x.r.isNullAt(cI)) null else x.r.get(cI, dt)
            if (v != null || tomb) {
              val wins = best == null || {
                val byWt = java.lang.Long.compare(x.wt, best._1)
                if (byWt != 0) byWt > 0
                else if (tomb != best._2) tomb
                else if (v == null || best._3 == null) v != null
                else valOrd(ci).compare(v, best._3) > 0
              }
              if (wins) best = (x.wt, tomb, v)
            }
          }
          if (best == null || best._2) (null, null) else (best._3, best._1)
        }
        // (4) the row-marker rule
        val exists = !hasMarker || cells.exists(_._1 != null) ||
          live.exists(x => !x.r.isNullAt(mkI.get) && x.r.getBoolean(mkI.get))
        if (!exists) None
        else Some(new GenericInternalRow((g.head.key.toSeq ++
          cells.map(_._1) ++ cells.map(_._2) :+ live.map(_.wt).max).toArray))
      }
    }
  }
}
