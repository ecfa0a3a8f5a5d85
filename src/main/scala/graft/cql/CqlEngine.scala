package graft.cql

import graft.operators.CassandraModel
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.StructType

/** A table registered with the CQL façade: the backing DataFrame plus its
  * primary-key declaration (partition + clustering columns — the part of the
  * CQL data model that drives query validation). */
class CqlTable(dfThunk: () => DataFrame, val partitionKeys: Seq[String],
  val clusteringKeys: Seq[String],
  val staticKeys: Seq[String],
  /** counter columns (bigint increment logs, `UPDATE … SET c = c + n`) */
  val counterKeys: Seq[String],
  /** secondary-indexed columns: lowercased name → set of (sai, target)
    * pairs — `sai` true when the index class is SAI/SASI (range-capable;
    * false = legacy 2i), `target` the collection wrapper the index was
    * declared with ("keys" / "values" / "entries" / "full", "" for a
    * plain scalar index). A column can carry several indexes with
    * different targets (upstream allows KEYS(m) and VALUES(m) side by
    * side). Consulted by the ALLOW FILTERING gate, like upstream
    * `StatementRestrictions.needFiltering` [U]. */
  val indexedColumns: Map[String, Set[(Boolean, String)]],
  /** per-clustering-key DESC flag from `WITH CLUSTERING ORDER BY`
    * (empty = all ASC). Drives the ORDER BY direction rule. */
  val clusteringDesc: Seq[Boolean],
  /** vector column (lowercased) → the SAI index's declared
    * similarity_function (5.0 `WITH OPTIONS = {'similarity_function':
    * …}` [U index/sai]); absent = cosine, the upstream default. Drives
    * ANN OF scoring. */
  val annSimilarity: Map[String, String],
  /** true when `df` already lists every partition in its declared
    * clustering order (the session's driver-side partition fold), so a
    * partition read needs no sort to return its native order */
  val clusteringOrdered: Boolean = false) {
  /** The serving DataFrame, FORCED ON FIRST READ and memoized: the
    * session may put per-epoch materialization work (the localCheckpoint
    * of a driver-local table's reconcile) into the thunk, and
    * Dataset.localCheckpoint runs its upstream jobs at WRAP time even
    * with eager = false — tables an epoch never reads must not pay it
    * at engine build (r18). */
  lazy val df: DataFrame = dfThunk()

  /** This table's metadata over `rows`: the reconciled rows of one
    * partition, in declared clustering order. */
  private[cql] def overPartition(rows: DataFrame): CqlTable =
    new CqlTable(() => rows, partitionKeys, clusteringKeys, staticKeys,
      counterKeys, indexedColumns, clusteringDesc, annSimilarity,
      clusteringOrdered = true)
}

object CqlTable {
  /** `df` is BY-NAME: evaluated once, at the table's first read. */
  def apply(df: => DataFrame, partitionKeys: Seq[String],
      clusteringKeys: Seq[String] = Nil, staticKeys: Seq[String] = Nil,
      counterKeys: Seq[String] = Nil,
      indexedColumns: Map[String, Set[(Boolean, String)]] = Map.empty,
      clusteringDesc: Seq[Boolean] = Nil,
      annSimilarity: Map[String, String] = Map.empty): CqlTable =
    new CqlTable(() => df, partitionKeys, clusteringKeys, staticKeys,
      counterKeys, indexedColumns, clusteringDesc, annSimilarity)
}

/** A system virtual table: its schema and keys, and the builder of its
  * rows, which runs each time a statement reads the table — upstream's
  * `AbstractVirtualTable.data()` [U db/virtual]. */
final class VirtualTable(val schema: StructType,
    val partitionKeys: Seq[String], val clusteringKeys: Seq[String],
    data: () => DataFrame) {
  /** The table over rows built now. */
  def read: CqlTable = CqlTable(data(), partitionKeys, clusteringKeys)
}

object VirtualTable {
  /** A virtual table whose rows are built on the driver. */
  def apply(spark: SparkSession, schema: StructType,
      partitionKeys: Seq[String], clusteringKeys: Seq[String] = Nil)(
      rows: => Seq[Row]): VirtualTable =
    new VirtualTable(schema, partitionKeys, clusteringKeys,
      () => spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema))
}

/** Raised for queries upstream Cassandra would reject (most importantly the
  * ALLOW FILTERING guardrail) — same user experience as
  * `InvalidRequestException` [U cql3/statements/SelectStatement.java,
  * unverifiable per SURVEY §0]. */
class CqlInvalidQueryException(msg: String) extends RuntimeException(msg)

/** A session-registered CQL function (`CREATE FUNCTION` / `CREATE
  * AGGREGATE`), compiled by the session to a Column transform; the engine
  * dispatches names the builtin table doesn't know here. */
case class CqlUserFunction(arity: Int, impl: Seq[Column] => Column)

/** SURVEY §2 "complete surface" — a CQL `SELECT` façade: a reference user's
  * query text runs unchanged, compiled to the same declarative Spark plans as
  * the native API (so Catalyst still does pushdown/pruning/top-k).
  *
  * Supported: `SELECT [DISTINCT|JSON] selectors FROM t [WHERE …] [GROUP BY …]
  * [ORDER BY …] [PER PARTITION LIMIT n] [LIMIT n] [ALLOW FILTERING]` with
  * `count/min/max/sum/avg`, `writetime/ttl`, `token`, `=`,`!=`,`<`,`<=`,`>`,
  * `>=`,`IN`,`CONTAINS [KEY]`,`LIKE`, tuple comparisons. Cassandra's
  * validation semantics are enforced: non-key predicates demand
  * `ALLOW FILTERING`; `ORDER BY` demands a fully-restricted partition key and
  * clustering columns only.
  *
  * Documented supersets of upstream: `GROUP BY` accepts any column (upstream
  * 3.10+ restricts groups to a primary-key prefix) and `DISTINCT` accepts
  * any selection (upstream: partition keys only) — both run fine on Spark,
  * so the façade does not reject them.
  */
class CqlEngine(spark: SparkSession, catalog: Map[String, CqlTable],
    /** session-registered scalar functions (CQL `CREATE FUNCTION`):
      * lowercase name → compiled impl. Dispatched after the builtins. */
    userFns: Map[String, CqlUserFunction] = Map.empty,
    /** session-registered aggregates (CQL `CREATE AGGREGATE`). */
    userAggs: Map[String, CqlUserFunction] = Map.empty,
    /** the system virtual tables, their rows built per read */
    virtual: Map[String, VirtualTable] = Map.empty) {

  /** Is this selector an aggregate, counting session-registered UDAs
    * (the AST's own isAggregate knows only the builtin five)? */
  private def isAgg(s: CqlSelector): Boolean = s.isAggregate || (s match {
    case FunctionSelector(fn, _, _) => userAggs.contains(fn.toLowerCase)
    case a: ArithSelector =>
      def rec(e: CqlArith): Boolean = e match {
        case ArithFn(f) => userAggs.contains(f.fn.toLowerCase)
        case ArithNeg(i) => rec(i)
        case ArithBin(_, l, r) => rec(l) || rec(r)
        case _ => false
      }
      rec(a.expr)
    case _ => false
  })

  def execute(cql: String): DataFrame = execute(CqlParser.parse(cql))

  /** Every table name the engine resolves: user tables, MVs and the
    * system virtual tables. */
  private[cql] def tableNames: Set[String] = catalog.keySet ++ virtual.keySet

  /** The table `name` names; a virtual table over rows built now. */
  private[cql] def table(name: String): Option[CqlTable] = {
    val key = name.toLowerCase
    catalog.get(key).orElse(virtual.get(key).map(_.read))
  }

  private def resolve(name: String): CqlTable = table(name).getOrElse(
    throw new CqlInvalidQueryException(s"unknown table $name"))

  /** O4 paging — the driver page protocol (upstream
    * `service/pager/QueryPager` [U]): a page "token" is nothing but the
    * last row's clustering tuple, replayed as a `(ck…) > (v…)` restriction
    * on the next request, so the server keeps NO cursor state and any
    * coordinator can resume any page — that statelessness is the upstream
    * contract, reproduced here. Each page is an ordinary engine query
    * (LIMIT fetchSize over clustering order); pages materialize
    * `fetchSize` rows to the client, which is what paging means. Supports
    * plain row SELECTs: single-partition queries page in clustering order
    * with a pushed tuple restriction; multi-partition queries (pk IN,
    * ALLOW FILTERING scans) page in (pk…, ck…) order with the partition
    * key carried in the resume token (upstream pages those by token
    * range — S2/C5 cover the token axis; pk-value order is the
    * total-order analogue here). */
  def executePaged(cql: String, fetchSize: Int): Iterator[DataFrame] = {
    require(fetchSize > 0, "fetchSize must be positive")
    val sel = CqlParser.parse(cql)
    val table = resolve(sel.table)
    val cks = table.clusteringKeys
    if (sel.selectors.exists(isAgg) || sel.groupBy.nonEmpty ||
        sel.distinct || sel.limit.nonEmpty || sel.perPartitionLimit.nonEmpty ||
        sel.ann.nonEmpty)
      throw new CqlInvalidQueryException(
        "paging requires a plain row SELECT (no aggregate/GROUP BY/" +
          "DISTINCT/LIMIT/PER PARTITION LIMIT/ANN)")
    if (cks.isEmpty)
      throw new CqlInvalidQueryException(
        s"table ${sel.table} has no clustering key to page on")
    // the page queries below substitute their own full-tuple ORDER BY, so
    // the USER's requested order must pass the restriction rules here
    validate(sel, table)
    // page order: the table's DECLARED clustering order (upstream's native
    // read order), or its exact reverse when the user's ORDER BY leads
    // with the opposite direction. Any other combination is rejected by
    // validate()'s direction rule on the first page.
    val declaredDesc = (table.clusteringDesc ++
      Seq.fill(cks.length)(false)).take(cks.length)
    val flip = sel.orderBy.exists(o =>
      o.nonEmpty && o.head.asc == declaredDesc.head)
    val dirDesc = declaredDesc.map(_ ^ flip)
    // Clustering-only page tokens are sound only inside ONE partition: a
    // multi-partition SELECT (pk IN, partial pk / non-key ALLOW FILTERING,
    // full scan) must carry the partition key in the page order AND the
    // resume token, or rows in other partitions sharing the boundary
    // clustering tuple are silently skipped at page edges (and every
    // partition's static phantom shares the all-null tuple). Upstream pages
    // those by token range; pk-value order is this engine's total-order
    // analogue (documented deviation: pk order, not token order).
    val singlePartition = table.partitionKeys.forall(pk =>
      sel.predicates.exists {
        case p: ColumnPredicate =>
          !p.isToken && p.column.equalsIgnoreCase(pk) && p.op == "="
        case _ => false
      })
    val pageCols =
      (if (singlePartition) Seq.empty else table.partitionKeys) ++ cks
    val pageDirs =
      Seq.fill(pageCols.length - cks.length)(false) ++ dirDesc
    val uniform = singlePartition && dirDesc.distinct.size == 1

    new Iterator[DataFrame] {
      private var after: Option[Seq[Any]] = None
      private var exhausted = false
      override def hasNext: Boolean = !exhausted
      // "Strictly after the boundary tuple" under PER-COLUMN directions
      // (mixed CLUSTERING ORDER tables can't use one tuple comparison).
      // Null boundary values (static-row phantoms) follow Spark's default
      // placement: nulls first under ASC, last under DESC.
      def afterTuple(cols: Seq[String], vals: Seq[Any],
          dirs: Seq[Boolean]): Column =
        (cols, vals, dirs) match {
          case (c +: ct, v +: vt, d +: dt) =>
            val rest =
              if (ct.isEmpty) lit(false) else afterTuple(ct, vt, dt)
            if (v == null) {
              if (d) col(c).isNull && rest
              else col(c).isNotNull || rest
            } else {
              val tv = typedLit(table, c, v)
              if (d) col(c).isNull || (col(c) < tv) ||
                (col(c) === tv && rest)
              else (col(c) > tv) || (col(c) === tv && rest)
            }
          case _ => lit(false)
        }
      override def next(): DataFrame = {
        if (exhausted) // Iterator contract — never silently re-query
          throw new NoSuchElementException("pager exhausted")
        val preds = sel.predicates ++ after.collect {
          // fast path: a uniform-direction token pages as one pushed
          // tuple restriction, exactly the driver-protocol shape (struct
          // comparison orders null fields smallest, matching page order)
          case v if uniform =>
            TuplePredicate(cks, if (dirDesc.head) "<" else ">", v)
        }.toSeq
        // full-row page internally (the pager must see the clustering
        // tuple — and the '_'-metadata columns writetime()/ttl()
        // selectors resolve against — even when the caller projects them
        // away), user projection applied per page below
        var pageAll = execute(sel.copy(
          selectors = table.df.columns.toSeq.map(ColumnSelector(_, None)),
          predicates = preds, json = false,
          // the CQL-level ORDER BY demands a restricted partition key —
          // multi-partition pages sort at the DataFrame level below
          orderBy = if (singlePartition)
            Some(cks.zip(dirDesc).map { case (c0, d) =>
              OrderBy(c0, asc = !d) })
          else None,
          limit = None))
        if (!uniform) after.foreach { v =>
          pageAll = pageAll.filter(afterTuple(pageCols, v, pageDirs))
        }
        if (!singlePartition)
          pageAll = pageAll.orderBy(pageCols.zip(pageDirs).map {
            case (c0, d) => if (d) col(c0).desc else col(c0).asc }: _*)
        // probe one row past the page: a row count that is an exact
        // multiple of fetchSize must NOT cost the client a spurious empty
        // final page (upstream pagers likewise look ahead)
        val pageSchema = pageAll.schema
        val probe = pageAll.limit(fetchSize + 1).collect()
        if (probe.length <= fetchSize) exhausted = true
        val rows = probe.take(fetchSize)
        // resolve key positions against the PAGE schema (the Star
        // projection drops '_'-prefixed metadata columns, shifting any
        // index computed on the table schema)
        if (!exhausted) after = Some(pageCols.map(c => rows.last.get(
          pageSchema.fieldIndex(
            pageSchema.fieldNames.find(_.equalsIgnoreCase(c)).get))))
        val local = spark.createDataFrame(
          java.util.Arrays.asList(rows: _*), pageSchema)
        var out =
          if (sel.selectors == Seq(Star))
            local.select(local.columns.filterNot(_.startsWith("_"))
              .map(col).toSeq: _*)
          else local.select(sel.selectors.map(selectorColumn(_, table)): _*)
        if (sel.json)
          out = out.select(to_json(struct(
            out.columns.map(n => col(s"`$n`")): _*),
            Map("ignoreNullFields" -> "false")).as("[json]"))
        out
      }
    }
  }

  /** Run an already-parsed (e.g. prepared-and-bound) SELECT. */
  private[cql] def execute(sel: CqlSelect): DataFrame =
    execute(sel, resolve(sel.table), Nil)

  /** Run `sel` over `table`, which may stand in for the registered table
    * (the session's one-partition fold). `applied` lists predicates of
    * `sel` that every row of `table.df` already satisfies: they are
    * validated like the rest but not filtered again. */
  private[cql] def execute(sel: CqlSelect, table: CqlTable,
      applied: Seq[CqlPredicate]): DataFrame = {
    validate(sel, table)
    var df = table.df

    // WHERE
    sel.predicates.filterNot(applied.contains).map(predColumn(_, table))
      .foreach(c => df = df.filter(c))

    // PER PARTITION LIMIT (before LIMIT, after filters — upstream order).
    // Ordering = clustering order; remaining columns break ties so the
    // result is deterministic even on tables without clustering keys.
    sel.perPartitionLimit.map(boundLimit(_, "PER PARTITION LIMIT")).foreach { k =>
      val tiebreak = table.df.columns.toSeq
        .diff(table.partitionKeys ++ table.clusteringKeys)
        .filter(c0 => org.apache.spark.sql.catalyst.expressions.RowOrdering
          .isOrderable(table.df.schema(c0).dataType)) // maps can't sort
        .map(col(_).asc)
      // native read order = the DECLARED clustering order: a DESC table's
      // per-partition limit keeps the newest rows, as upstream does
      val order = declaredOrder(table) ++ tiebreak
      val w = Window.partitionBy(table.partitionKeys.map(col): _*).orderBy(order: _*)
      df = df.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= k).drop("__rn")
    }

    // Native read order: a row SELECT pinned to one partition returns it
    // in the DECLARED clustering order, so a DESC table's LIMIT keeps the
    // newest rows, as upstream [U db/SinglePartitionReadCommand]. The
    // pinned partition's rows move to one Spark partition and sort there
    // (a coalesce would pull the whole scan stage into one task).
    val aggregates = sel.selectors.exists(isAgg) || sel.groupBy.nonEmpty
    if (!table.clusteringOrdered && table.clusteringKeys.nonEmpty &&
        sel.orderBy.isEmpty && sel.ann.isEmpty && !aggregates &&
        !sel.distinct &&
        CqlEngine.pinnedPartition(sel, table.partitionKeys).nonEmpty)
      df = df.repartition(1).sortWithinPartitions(declaredOrder(table): _*)

    // ANN ordering (Cassandra 5.0 `ORDER BY col ANN OF [v,…] LIMIT k`, SAI
    // vector index [U index/sai/plan/]): exact top-k by cosine similarity,
    // most-similar first — the index's default similarity function. LIMIT is
    // mandatory upstream (the index answers top-k, not a total order). The
    // plan collapses to TakeOrderedAndProject — the distributed top-k — via
    // the codegen'd CosineSimilarity expression.
    sel.ann.foreach { a =>
      // upstream 5.0 requires a vector SAI index on the ordered column —
      // ANN is an INDEX search, not a table operator [U
      // cql3/restrictions/StatementRestrictions, index/sai/plan/]
      if (!table.indexedColumns.get(a.column.toLowerCase)
          .exists(_.exists(_._1)))
        throw new CqlInvalidQueryException(
          s"ANN ordering by vector requires the column ${a.column} to be " +
            "indexed (CREATE CUSTOM INDEX … USING 'StorageAttachedIndex')")
      val k = boundLimit(sel.limit.getOrElse(throw new CqlInvalidQueryException(
        "Use of ANN OF in an ORDER BY clause requires a LIMIT")), "LIMIT")
      val qv = array(a.query.map(lit(_)): _*)
        .cast(org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))
      // primary-key tiebreak: equal-similarity vectors (e.g. duplicate
      // embeddings) must yield a run-independent top-k set and order
      val pkTiebreak =
        (table.partitionKeys ++ table.clusteringKeys).map(col(_).asc)
      // score by the INDEX's declared similarity function (5.0 SAI
      // option; cosine is the upstream default): cosine/dot rank
      // most-similar-first, euclidean ranks nearest-first
      val score = table.annSimilarity
        .getOrElse(a.column.toLowerCase, "cosine") match {
        case "dot_product" => graft.functions.VectorFunctions
          .dotFast(col(a.column), qv).desc
        case "euclidean" => graft.functions.VectorFunctions
          .euclideanFast(col(a.column), qv).asc
        case _ => graft.functions.VectorFunctions
          .cosineFast(col(a.column), qv).desc
      }
      df = df
        .orderBy(score +: pkTiebreak: _*)
        .limit(k)
    }

    // selection / aggregation
    df =
      if (sel.selectors.exists(isAgg) || sel.groupBy.nonEmpty) {
        val keySet = sel.groupBy.collect {
          case CqlGroupItem(c0, None) => c0.toLowerCase
        }.toSet
        val floorKeys = sel.groupBy.collect {
          case CqlGroupItem(c0, Some(us)) => (c0.toLowerCase, us)
        }.toSet
        // `SELECT * … GROUP BY pk` is valid upstream: the group keys plus
        // the FIRST-ROW value of every other column — expand the star so
        // the first() wrap below applies per column
        val selectors = sel.selectors.flatMap {
          case Star => table.df.columns.toSeq.filterNot(_.startsWith("_"))
            .map(ColumnSelector(_, None))
          case s => Seq(s)
        }
        // Plain (non-aggregate) selections return the group's FIRST-ROW
        // value upstream [U cql3/selection/Selection] — first in the
        // DECLARED clustering order, not in whatever order Spark's
        // aggregation happens to consume rows. Spark's first() is
        // input-order-nondeterministic, so pin it: materialize each plain
        // selection as a window first() over the group keys ordered by the
        // clustering order; every row of a group then carries the same
        // (correct) value and the aggregate's first() is order-free. The
        // window exchange hash-partitions on the group keys, which the
        // groupBy below reuses — still ONE shuffle.
        val clusterOrder = declaredOrder(table)
        // un-aliased group expressions for Window.partitionBy
        val groupPartExprs = sel.groupBy.map {
          case CqlGroupItem(c0, None) => col(c0)
          case CqlGroupItem(c0, Some(us)) => floorBucket(col(c0), us)
        }
        // a GLOBAL aggregate (no GROUP BY) with a plain selection returns
        // the first row in TOKEN order then clustering order — upstream's
        // read order across partitions. Ring-exact murmur token over the
        // partition key pins it (only evaluated for this rare query shape)
        val globalOrder: Seq[Column] = {
          val pks = table.partitionKeys
          val tok =
            if (pks.isEmpty) Nil
            else if (pks.length == 1)
              Seq(CassandraModel.murmurTokenOf(col(pks.head)).asc)
            else Seq(CassandraModel.murmurTokenOf(col(pks(0)), col(pks(1)),
              pks.drop(2).map(col): _*).asc)
          tok ++ pks.map(col(_).asc) ++ clusterOrder
        }
        var pinCount = 0
        val pinned = scala.collection.mutable.ArrayBuffer.empty[(String, Column)]
        def pinFirst(inner: Column): Column = {
          val order = if (sel.groupBy.nonEmpty) clusterOrder else globalOrder
          if (order.isEmpty) first(inner)
          else {
            val tmp = s"__first_$pinCount"; pinCount += 1
            pinned += tmp -> first(inner)
              .over(Window.partitionBy(groupPartExprs: _*)
                .orderBy(order: _*))
            first(col(tmp))
          }
        }
        // group keys are implicit in Spark's groupBy output — drop their
        // plain (or matching floor) selectors to avoid duplicate columns.
        // A floor selector matches its group item only when BOTH the column
        // and the duration agree; floor(ts, 1h) against GROUP BY
        // floor(ts, 12h) is not grouped and must error, not mislabel.
        val aggCols = selectors.collect {
          case s: ColumnSelector if keySet.contains(s.name.toLowerCase) => None
          case FunctionSelector(fn, Seq(ColArg(n), LitArg(us: Long)), _)
            if fn.equalsIgnoreCase("floor") &&
              floorKeys((n.toLowerCase, us)) => None
          case FunctionSelector(fn, ColArg(n) +: _, _)
            if fn.equalsIgnoreCase("floor") &&
              sel.groupBy.exists(g => g.floorMicros.isDefined &&
                g.column.equalsIgnoreCase(n)) =>
            throw new CqlInvalidQueryException(
              s"floor($n, …) selector duration does not match GROUP BY")
          case s if !isAgg(s) =>
            // Spark demands an aggregate, so wrap the clustering-order-
            // pinned first-row value in first() and keep the selector's
            // output name (the un-aliased auto name is resolved against
            // the ORIGINAL expression so pinning never renames a column)
            val inner = selectorColumn(s, table)
            val outName = selectorOutputName(s)
              .getOrElse(df.select(first(inner)).schema.head.name)
            Some(pinFirst(inner).as(outName))
          case s => Some(selectorColumn(s, table))
        }.flatten
        if (aggCols.isEmpty)
          throw new CqlInvalidQueryException(
            "GROUP BY queries must select at least one aggregate")
        // a floor group key takes its output name from the matching
        // selector's alias when one exists (upstream names the column
        // after the selection)
        val groupCols = sel.groupBy.map {
          case CqlGroupItem(c0, None) => col(c0)
          case CqlGroupItem(c0, Some(us)) =>
            val alias = sel.selectors.collectFirst {
              case FunctionSelector(fn, Seq(ColArg(n), LitArg(fus: Long)),
                Some(a))
                if fn.equalsIgnoreCase("floor") && n.equalsIgnoreCase(c0) &&
                  fus == us => a
            }
            floorBucket(col(c0), us).as(alias.getOrElse(s"floor($c0)"))
        }
        val dfPinned =
          if (pinned.isEmpty) df
          else pinned.foldLeft(df) { case (d0, (n, c0)) => d0.withColumn(n, c0) }
        if (sel.groupBy.nonEmpty)
          dfPinned.groupBy(groupCols: _*).agg(aggCols.head, aggCols.tail: _*)
        else dfPinned.agg(aggCols.head, aggCols.tail: _*)
      } else if (sel.selectors == Seq(Star))
        // `_`-prefixed columns are engine metadata (writetime/ttl/tombstone)
        // — CQL exposes them through writetime()/ttl(), not SELECT *
        df.select(df.columns.filterNot(_.startsWith("_")).map(col): _*)
      else df.select(sel.selectors.map(selectorColumn(_, table)): _*)

    if (sel.distinct) df = df.distinct()
    sel.orderBy.foreach { obs =>
      df = df.orderBy(obs.map(o => if (o.asc) col(o.column).asc else col(o.column).desc): _*)
    }
    sel.limit.foreach(n => df = df.limit(boundLimit(n, "LIMIT")))
    if (sel.json)
      // upstream Json.java serializes EVERY selected column, null included —
      // a phantom static row must read back as {"ck":null,"v":null,"st":…}
      // backtick-quote: a UDT-field selector's output column is literally
      // named `u.field`, which bare col() would mis-parse as struct access
      df = df.select(to_json(struct(df.columns.map(n => col(s"`$n`")): _*),
        Map("ignoreNullFields" -> "false")).as("[json]"))
    df
  }

  /** cqlsh TRACING analogue: the formatted physical plan Catalyst chose for
    * a CQL statement — shows pushed filters, join strategies, top-k. */
  def explain(cql: String): String =
    execute(cql).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)

  /** Does a secondary index on `c` serve operator `op`? The index TARGET
    * decides which predicate it answers (upstream `ColumnMetadata` target
    * kinds [U cql3/statements/schema/IndexTarget.java]): KEYS(m) serves
    * CONTAINS KEY, VALUES(c) serves CONTAINS, ENTRIES(m) serves `m[k] = v`,
    * FULL(c) serves whole-value equality. A plain scalar index serves
    * equality; SAI/SASI classes additionally answer range, IN (an
    * eq-union) and LIKE [U index/sai/plan/,
    * StatementRestrictions.needFiltering]. */
  private def indexServes(t: CqlTable, c: String, op: String): Boolean =
    t.indexedColumns.getOrElse(c, Set.empty).exists { case (sai, target) =>
      target match {
        case "keys" => op == "contains key"
        case "values" => op == "contains"
        case "entries" => op == "elem="
        case "full" => op == "="
        case _ =>
          op == "=" || (sai && Set("<", "<=", ">", ">=", "in", "like")(op))
      }
    }

  /** Every simple predicate inside a (possibly nested) disjunction. */
  private def orLeaves(p: CqlPredicate): Seq[CqlPredicate] = p match {
    case OrPredicate(bs) => bs.flatten.flatMap(orLeaves)
    case other => Seq(other)
  }

  /** Column-existence and collection-operator typing for one relation —
    * shared by the top-level conjunction walk and disjunction leaves. */
  private def nameTypeCheck(p: ColumnPredicate, t: CqlTable): Unit = {
    val f = t.df.schema.find(_.name.equalsIgnoreCase(p.column))
      .getOrElse(throw new CqlInvalidQueryException(
        s"Undefined column name ${p.column}"))
    p.op match {
      case "contains" if !f.dataType.isInstanceOf[
          org.apache.spark.sql.types.ArrayType] && !f.dataType
          .isInstanceOf[org.apache.spark.sql.types.MapType] =>
        throw new CqlInvalidQueryException(
          s"Cannot use CONTAINS on non-collection column ${p.column}")
      case "contains key" if !f.dataType.isInstanceOf[
          org.apache.spark.sql.types.MapType] =>
        throw new CqlInvalidQueryException(
          s"Cannot use CONTAINS KEY on non-map column ${p.column}")
      case "elem=" if !f.dataType.isInstanceOf[
          org.apache.spark.sql.types.MapType] =>
        // upstream: only map columns are subscriptable in WHERE
        // [U restrictions/SingleColumnRestriction$ContainsRestriction]
        throw new CqlInvalidQueryException(
          s"Map-entry predicates are not supported on non-map column " +
            s"${p.column}")
      case _ => ()
    }
  }

  /** Cassandra's restriction rules (the guardrails that make it Cassandra). */
  private def validate(sel: CqlSelect, t: CqlTable): Unit = {
    val keyCols = (t.partitionKeys ++ t.clusteringKeys).map(_.toLowerCase).toSet
    // protocol-v4 UNSET is a write-side wildcard only: a WHERE value
    // bound unset is invalid, never a match-nothing filter [U
    // cql3/restrictions — "Invalid unset value for column"]
    def unsetIn(p: CqlPredicate): Option[String] = p match {
      case cp: ColumnPredicate if cp.values.contains(CqlUnset) =>
        Some(cp.column)
      case tp: TuplePredicate if tp.values.contains(CqlUnset) =>
        Some(tp.columns.mkString(", "))
      case or: OrPredicate =>
        or.branches.flatten.flatMap(unsetIn(_)).headOption
      case _ => None
    }
    sel.predicates.flatMap(unsetIn(_)).headOption.foreach(c0 =>
      throw new CqlInvalidQueryException(
        s"Invalid unset value for column $c0"))
    // name/type validation BEFORE the filtering gate, so a typo'd column
    // reads as upstream's "Undefined column name", not a Spark analysis
    // stack; same for CONTAINS typing and token() placement
    sel.predicates.foreach {
      case p: ColumnPredicate if p.isToken =>
        // upstream: token() must name ALL partition key components, in
        // declaration order [U cql3/restrictions/TokenRestriction]
        val toks = p.column.split(",").toSeq
        toks.find(c0 => !t.partitionKeys.exists(_.equalsIgnoreCase(c0)))
          .foreach(c0 => throw new CqlInvalidQueryException(
            s"The token() function can only be applied to the partition " +
              s"key (got $c0)"))
        if (!toks.map(_.toLowerCase)
            .sameElements(t.partitionKeys.map(_.toLowerCase)))
          throw new CqlInvalidQueryException(
            "The token function arguments must be in the partition key " +
              s"order: ${t.partitionKeys.mkString(", ")}")
        if (!Set("=", "<", "<=", ">", ">=").contains(p.op))
          throw new CqlInvalidQueryException(
            s"Only EQ and slice relations are supported on token() " +
              s"(got ${p.op})")
      case p: ColumnPredicate => nameTypeCheck(p, t)
      case op: OrPredicate =>
        // disjunction leaves (5.0 CEP-29): plain column relations only —
        // token() narrows the ring scan and multi-column relations narrow
        // the clustering slice, and neither composes with OR upstream
        orLeaves(op).foreach {
          case p: ColumnPredicate if p.isToken =>
            throw new CqlInvalidQueryException(
              "token() relations cannot be used in OR conditions")
          case _: TuplePredicate =>
            throw new CqlInvalidQueryException(
              "Multi-column relations cannot be used in OR conditions")
          case _: OrPredicate => () // flattened by orLeaves
          case p: ColumnPredicate => nameTypeCheck(p, t)
        }
      case tp: TuplePredicate =>
        // upstream multi-column relation rules [U cql3/restrictions/
        // MultiColumnRestriction]: clustering columns only, named in
        // clustering order with no skips, tuple arity = column count
        val ckL = t.clusteringKeys.map(_.toLowerCase)
        tp.columns.find(c0 => !ckL.contains(c0.toLowerCase)).foreach(c0 =>
          throw new CqlInvalidQueryException(
            s"Multi-column relations can only be applied to clustering " +
              s"columns but was applied to: $c0"))
        val idxs = tp.columns.map(c0 => ckL.indexOf(c0.toLowerCase))
        if (idxs != (idxs.head until idxs.head + idxs.size).toSeq)
          throw new CqlInvalidQueryException(
            "Clustering columns may not be skipped or reordered in " +
              s"multi-column relations (got ${tp.columns.mkString(", ")}; " +
              s"clustering order is ${t.clusteringKeys.mkString(", ")})")
        def arity(v: Any): Int = v match {
          case s: Seq[_] => s.size
          case _ => 1
        }
        if (tp.op == "in")
          tp.values.find(arity(_) != tp.columns.size).foreach(v =>
            throw new CqlInvalidQueryException(
              s"Expected ${tp.columns.size} elements in value tuple, " +
                s"but got ${arity(v)}"))
        else if (tp.values.size != tp.columns.size)
          throw new CqlInvalidQueryException(
            s"Expected ${tp.columns.size} elements in value tuple, " +
              s"but got ${tp.values.size}")
      case _ => ()
    }
    // upstream SelectStatement.validateDistinctSelection [U]: DISTINCT may
    // only select partition key and static columns, and must name every
    // partition key component (the result is one row per partition)
    if (sel.distinct) {
      val star = sel.selectors.exists {
        case Star => true
        case ColumnSelector("*", _) => true
        case _ => false
      }
      val names: Seq[String] =
        if (star) t.df.schema.fieldNames.toSeq
        else sel.selectors.collect {
          case ColumnSelector(n, _) => n.takeWhile(_ != '.')
        }
      val allowed = (t.partitionKeys ++ t.staticKeys).map(_.toLowerCase).toSet
      names.find(n => !allowed.contains(n.toLowerCase)).foreach(n =>
        throw new CqlInvalidQueryException(
          "SELECT DISTINCT queries must only request partition key " +
            s"columns and/or static columns (not $n)"))
      t.partitionKeys.find(pk => !names.exists(_.equalsIgnoreCase(pk)))
        .foreach(pk => throw new CqlInvalidQueryException(
          "SELECT DISTINCT queries must request all the partition key " +
            s"columns (missing $pk)"))
    }
    sel.selectors.foreach {
      case ColumnSelector(n, _) if n != "*" =>
        // `u.field` selects a UDT field: validate the BASE column
        val base = n.takeWhile(_ != '.')
        if (!t.df.schema.exists(_.name.equalsIgnoreCase(base)))
          throw new CqlInvalidQueryException(s"Undefined column name $base")
      case _ => ()
    }
    // upstream: both limits must be strictly positive
    sel.limit.map(boundLimit(_, "LIMIT")).filter(_ <= 0).foreach(n =>
      throw new CqlInvalidQueryException(
        s"LIMIT must be strictly positive (got $n)"))
    sel.perPartitionLimit.map(boundLimit(_, "PER PARTITION LIMIT"))
      .filter(_ <= 0).foreach(n =>
        throw new CqlInvalidQueryException(
          s"PER PARTITION LIMIT must be strictly positive (got $n)"))
    if (!sel.allowFiltering) {
      sel.predicates.foreach {
        case p: ColumnPredicate =>
          val c = p.column.toLowerCase
          // a secondary index lifts the gate for the ops it can serve
          if (!keyCols.contains(c) && !p.isToken && !indexServes(t, c, p.op))
            throw new CqlInvalidQueryException(
              s"Cannot execute this query as it might involve data filtering and " +
                s"thus may have unpredictable performance. If you want to execute " +
                s"this query despite the performance unpredictability, use ALLOW FILTERING " +
                s"(non-key column: ${p.column})")
          if (t.partitionKeys.map(_.toLowerCase).contains(c) &&
              !Set("=", "in").contains(p.op))
            throw new CqlInvalidQueryException(
              s"Only EQ and IN relation are supported on the partition key " +
                s"(unless you use the token() function) (got ${p.op} on ${p.column})")
        case tp: TuplePredicate =>
          // a multi-column clustering restriction needs the partition key
          // fully EQ/IN-restricted and every clustering column BEFORE the
          // tuple's first column EQ-restricted — same contiguous-prefix
          // rule as single-column clustering predicates
          val pkOk = t.partitionKeys.forall(pk => sel.predicates.exists {
            case p: ColumnPredicate => p.column.equalsIgnoreCase(pk) &&
              Set("=", "in").contains(p.op) && !p.isToken
            case _ => false
          })
          if (!pkOk)
            throw new CqlInvalidQueryException(
              "Cannot execute this query as it might involve data filtering and " +
                "thus may have unpredictable performance. If you want to execute " +
                "this query despite the performance unpredictability, use ALLOW FILTERING " +
                "(multi-column clustering restriction without a fully restricted partition key)")
          val ckL = t.clusteringKeys.map(_.toLowerCase)
          val start = ckL.indexOf(tp.columns.head.toLowerCase)
          ckL.take(math.max(start, 0)).find(prev => !sel.predicates.exists {
            case p: ColumnPredicate => p.column.equalsIgnoreCase(prev) &&
              Set("=", "in").contains(p.op) && !p.isToken
            case _ => false
          }).foreach(prev => throw new CqlInvalidQueryException(
            s"PRIMARY KEY column ${tp.columns.head} cannot be restricted " +
              s"as preceding column $prev is not restricted"))
        case op: OrPredicate =>
          // 5.0 rule (CEP-29): a disjunction runs without ALLOW FILTERING
          // only when an index serves EVERY leaf relation (the SAI OR
          // query). An OR-ed key restriction no longer narrows the
          // partition/clustering scan, so it earns no key exemption here.
          orLeaves(op).foreach {
            case p: ColumnPredicate
              if !indexServes(t, p.column.toLowerCase, p.op) =>
              throw new CqlInvalidQueryException(
                s"Cannot execute this query as it might involve data filtering and " +
                  s"thus may have unpredictable performance. If you want to execute " +
                  s"this query despite the performance unpredictability, use ALLOW FILTERING " +
                  s"(OR condition on ${p.column} without a serving index)")
            case _ => ()
          }
      }
      // a PARTIALLY restricted composite partition key is a filtering scan
      // upstream (StatementRestrictions.processPartitionKeyRestrictions):
      // every component must be EQ/IN-restricted, or none
      val pkRestricted = t.partitionKeys.filter(pk => sel.predicates.exists {
        case p: ColumnPredicate => !p.isToken && p.column.equalsIgnoreCase(pk)
        case _ => false
      })
      if (pkRestricted.nonEmpty && pkRestricted.size < t.partitionKeys.size)
        throw new CqlInvalidQueryException(
          "Cannot execute this query as it might involve data filtering and " +
            "thus may have unpredictable performance. If you want to execute " +
            "this query despite the performance unpredictability, use ALLOW FILTERING " +
            s"(partition key partially restricted: ${pkRestricted.mkString(", ")})")
      // clustering-restriction rules (upstream ClusteringColumnRestrictions
      // [U cql3/restrictions/]): a clustering predicate needs the partition
      // key fully EQ/IN-restricted, restricted clustering columns must form
      // a CONTIGUOUS prefix, and only the last restricted one may carry a
      // non-EQ relation — anything else is a filtering scan upstream.
      // An index serving the predicate exempts its column (index lookup).
      val ckList = t.clusteringKeys.map(_.toLowerCase)
      val ckPreds = sel.predicates.collect {
        case p: ColumnPredicate if !p.isToken &&
            ckList.contains(p.column.toLowerCase) &&
            !indexServes(t, p.column.toLowerCase, p.op) => p
      }
      if (ckPreds.nonEmpty) {
        val pkOk = t.partitionKeys.forall(pk => sel.predicates.exists {
          case p: ColumnPredicate => p.column.equalsIgnoreCase(pk) &&
            Set("=", "in").contains(p.op) && !p.isToken
          case _ => false
        })
        if (!pkOk)
          throw new CqlInvalidQueryException(
            "Cannot execute this query as it might involve data filtering and " +
              "thus may have unpredictable performance. If you want to execute " +
              "this query despite the performance unpredictability, use ALLOW FILTERING " +
              "(clustering restriction without a fully restricted partition key)")
        val byCol = ckPreds.groupBy(_.column.toLowerCase)
        val rangeOps = Set("<", "<=", ">", ">=")
        byCol.foreach { case (c0, ps) =>
          ps.foreach { p =>
            if (!Set("=", "in").contains(p.op) && !rangeOps(p.op))
              throw new CqlInvalidQueryException(
                s"Clustering column $c0 cannot be restricted by a ${p.op} " +
                  s"relation without ALLOW FILTERING or a matching index")
          }
        }
        def exact(c0: String) =
          byCol(c0).forall(p => Set("=", "in").contains(p.op))
        ckList.zipWithIndex.filter { case (c0, _) => byCol.contains(c0) }
          .foreach { case (c0, i) =>
            ckList.take(i).foreach { prev =>
              if (!byCol.contains(prev))
                throw new CqlInvalidQueryException(
                  s"PRIMARY KEY column $c0 cannot be restricted as preceding " +
                    s"column $prev is not restricted")
              if (!exact(prev))
                throw new CqlInvalidQueryException(
                  s"Clustering column $c0 cannot be restricted (preceding " +
                    s"column $prev is restricted by a non-EQ relation)")
            }
          }
      }
    }
    sel.ann.foreach { a =>
      if (!t.df.schema.exists(_.name.equalsIgnoreCase(a.column)))
        throw new CqlInvalidQueryException(s"undefined column ${a.column}")
      if (sel.groupBy.nonEmpty || sel.selectors.exists(isAgg))
        throw new CqlInvalidQueryException(
          "ANN ordering does not support aggregation")
    }
    if (sel.orderBy.nonEmpty) {
      val pkRestricted = t.partitionKeys.forall(pk =>
        sel.predicates.exists {
          case p: ColumnPredicate =>
            p.column.equalsIgnoreCase(pk) && Set("=", "in").contains(p.op) && !p.isToken
          case _ => false
        })
      if (!pkRestricted)
        throw new CqlInvalidQueryException(
          "ORDER BY is only supported when the partition key is restricted by an EQ or an IN")
      sel.orderBy.get.foreach { o =>
        if (!t.clusteringKeys.exists(_.equalsIgnoreCase(o.column)))
          throw new CqlInvalidQueryException(
            s"Order by is currently only supported on the clustered columns " +
              s"of the PRIMARY KEY (got ${o.column})")
      }
      // upstream direction rule [U cql3/restrictions/StatementRestrictions]:
      // the requested columns must be a PREFIX of the clustering keys in
      // declared sequence, and the directions must follow the declared
      // CLUSTERING ORDER either exactly or fully reversed
      val obs = sel.orderBy.get
      val ckL = t.clusteringKeys.map(_.toLowerCase)
      if (obs.map(_.column.toLowerCase) != ckL.take(obs.length))
        throw new CqlInvalidQueryException(
          "Order by currently only supports the ordering of columns " +
            "following their declared order in the PRIMARY KEY")
      val declaredDesc =
        t.clusteringDesc.padTo(ckL.length, false).take(obs.length)
      val exact = obs.map(_.asc).zip(declaredDesc)
        .forall { case (asc, desc) => asc == !desc }
      val reversed = obs.map(_.asc).zip(declaredDesc)
        .forall { case (asc, desc) => asc == desc }
      if (!exact && !reversed)
        throw new CqlInvalidQueryException(
          "Unsupported order by relation: must follow the declared " +
            "CLUSTERING ORDER or its exact reverse")
    }
  }

  private def isStringCol(t: CqlTable, name: String): Boolean =
    t.df.schema.find(_.name.equalsIgnoreCase(name))
      .exists(_.dataType == org.apache.spark.sql.types.StringType)

  /** The table's declared clustering order (`WITH CLUSTERING ORDER BY`;
    * unlisted keys ASC) as sort columns. */
  private def declaredOrder(t: CqlTable): Seq[Column] = {
    val desc = (t.clusteringDesc ++ Seq.fill(t.clusteringKeys.length)(false))
      .take(t.clusteringKeys.length)
    t.clusteringKeys.zip(desc).map { case (c0, d) =>
      if (d) col(c0).desc else col(c0).asc }
  }

  /** A LIMIT / PER PARTITION LIMIT operand after binding: an int, or an
    * unbound marker (rejected — limits bind through prepared statements). */
  private def boundLimit(v: Any, what: String): Int = v match {
    case i: Int => i
    case l: Long if l >= Int.MinValue && l <= Int.MaxValue => l.toInt
    case CqlBindMarker | _: CqlNamedMarker =>
      throw new CqlInvalidQueryException(
        s"$what bind marker is unbound — prepare the statement and bind it")
    case CqlUnset => throw new CqlInvalidQueryException(
      s"Invalid unset value for $what")
    case other => throw new CqlInvalidQueryException(
      s"invalid $what value: $other")
  }

  /** Literal typed to its column (CQL bind values are typed; Spark's struct
    * comparison does not coerce). */
  private def typedLit(t: CqlTable, column: String, v: Any): Column = v match {
    case CqlDuration(m, d, n) => struct(
      lit(m).as("months"), lit(d).as("days"), lit(n).as("nanos"))
    case CqlBindMarker | _: CqlNamedMarker =>
      // a raw Spark 'Unsupported literal type' RuntimeException here would
      // leak an internal stack trace for a user error
      throw new CqlInvalidQueryException(
        "bind marker is unbound — prepare the statement and bind it")
    case _ => t.df.schema.find(_.name.equalsIgnoreCase(column))
      .map(f => lit(v).cast(f.dataType)).getOrElse(lit(v))
  }

  /** A function-literal timestamp argument as a Column: CQL integer
    * timestamps are epoch MILLISECONDS [U cql3/functions/TimeFcts] —
    * a bare long cast to Spark timestamp would be read as SECONDS and
    * silently shift the bound 1000x. */
  private def tsArg(v: Any): Column = v match {
    case l: Long => timestamp_millis(lit(l))
    case i: Int => timestamp_millis(lit(i.toLong))
    case CqlBindMarker | _: CqlNamedMarker =>
      throw new CqlInvalidQueryException(
        "bind marker is unbound — prepare the statement and bind it")
    case other => lit(other).cast("timestamp")
  }

  /** The uuid Column a min/maxTimeuuid literal builds (`ts` overrides the
    * literal argument when the caller already resolved it). */
  private def fnLitUuid(f: CqlFnLit, ts: Option[Column] = None): Column = {
    import graft.functions.TimeuuidFunctions._
    val arg = ts.getOrElse(tsArg(f.arg))
    f.fn match {
      case "mintimeuuid" => minTimeuuid(arg)
      case "maxtimeuuid" => maxTimeuuid(arg)
      case other => throw new CqlInvalidQueryException(
        s"$other is not a timeuuid constructor")
    }
  }

  /** (lhs, rhs) for a predicate whose bound is a function literal:
    * min/maxTimeuuid bounds compare in timeuuid order — (ticks, tail), NOT
    * string order, which would sort by time_low and scramble the timeline —
    * and toTimestamp bounds compare as timestamps. */
  private def fnBound(p: ColumnPredicate, f: CqlFnLit): (Column, Column) = {
    import graft.functions.TimeuuidFunctions._
    f.fn match {
      case "mintimeuuid" | "maxtimeuuid" =>
        (timeuuidComparable(col(p.column)), timeuuidComparable(fnLitUuid(f)))
      case "totimestamp" =>
        (col(p.column).cast("timestamp"), tsArg(f.arg))
      case other =>
        throw new CqlInvalidQueryException(s"unsupported function bound $other")
    }
  }

  private def predColumn(p: CqlPredicate, t: CqlTable): Column = p match {
    case p: ColumnPredicate =>
      val fnLit = p.values.headOption match {
        case Some(CqlFnLit("token", _)) if p.isToken =>
          None // token(v…) rhs: handled by the token value branch below
        case Some(f: CqlFnLit) if !p.isToken &&
            Set("=", "!=", "<", "<=", ">", ">=").contains(p.op) => Some(f)
        case Some(f: CqlFnLit) => throw new CqlInvalidQueryException(
          s"function bound ${f.fn} only supports ordered comparisons")
        case _ => None
      }
      val base: Column = fnLit match {
        case Some(f) => fnBound(p, f)._1
        case None =>
          if (p.isToken) {
            // single component keeps the oracle-able hash (tokenOf); a
            // composite key hashes its CompositeType layout like the ring
            val toks = p.column.split(",")
            if (toks.length == 1) CassandraModel.tokenOf(col(p.column))
            else CassandraModel.murmurTokenOf(
              col(toks(0)), col(toks(1)), toks.drop(2).map(col): _*)
          } else col(p.column)
      }
      def v: Column = fnLit match {
        case Some(f) => fnBound(p, f)._2
        case None =>
          if (p.isToken) p.values.head match {
            // rhs `token(v…)`: the SAME hash as the lhs, over literal keys —
            // component count must match the lhs partition key list
            case CqlFnLit("token", CqlList(vs)) =>
              val keys = p.column.split(",")
              if (vs.length != keys.length)
                throw new CqlInvalidQueryException(
                  s"token() on the value side takes ${keys.length} " +
                    s"component(s), got ${vs.length}")
              if (vs.length == 1) CassandraModel.tokenOf(lit(vs.head))
              else {
                // each literal must serialize with the matching pk column's
                // type: an integer literal parses as Long (8 bytes) but an
                // `int` component hashes 4 — coerce before hashing so both
                // sides of the relation compute the same ring token
                val comps = keys.zip(vs).map { case (c, x) =>
                  typedLit(t, c, x) }
                CassandraModel.murmurTokenOf(
                  comps(0), comps(1), comps.drop(2).toIndexedSeq: _*)
              }
            case raw => lit(raw)
          }
          else typedLit(t, p.column, p.values.head)
      }
      // duration is not orderable — upstream rejects slice restrictions on
      // duration columns [U db/marshal/DurationType, StatementRestrictions]
      val isDuration = t.df.schema.find(_.name.equalsIgnoreCase(p.column))
        .exists(_.dataType == CqlParser.DurationType)
      if (isDuration && Set("<", "<=", ">", ">=").contains(p.op))
        throw new CqlInvalidQueryException(
          s"Slice restrictions are not supported on duration column " +
            p.column)
      p.op match {
        case "=" => base === v
        case "!=" => base =!= v
        case "<" => base < v
        case "<=" => base <= v
        case ">" => base > v
        case ">=" => base >= v
        case "in" if p.values.isEmpty => lit(false) // `IN ()` matches nothing
        case "in" if p.values.exists(_.isInstanceOf[CqlDuration]) =>
          p.values.map(x => base === typedLit(t, p.column, x)).reduce(_ || _)
        case "in" => base.isin(p.values: _*)
        case "is not null" => base.isNotNull
        case "like" => base.like(p.values.head.toString)
        case "contains" =>
          // upstream CONTAINS on a map matches VALUES (keys need
          // CONTAINS KEY); on list/set it is membership
          val isMap = t.df.schema.find(_.name.equalsIgnoreCase(p.column))
            .exists(_.dataType.isInstanceOf[
              org.apache.spark.sql.types.MapType])
          if (isMap) array_contains(map_values(base), lit(p.values.head))
          else array_contains(base, lit(p.values.head))
        case "contains key" => map_contains_key(base, lit(p.values.head))
        case "elem=" =>
          // `m[k] = v` — the entry must exist AND equal v (element_at is
          // null for a missing key, and null === v filters out, matching
          // upstream ContainsRestriction-on-entries semantics)
          val (kt, vt) = t.df.schema.find(_.name.equalsIgnoreCase(p.column))
            .map(_.dataType) match {
            case Some(org.apache.spark.sql.types.MapType(k, v2, _)) => (k, v2)
            case _ => throw new CqlInvalidQueryException(
              s"Map-entry predicates are not supported on non-map column " +
                s"${p.column}")
          }
          element_at(base, lit(p.values.head).cast(kt)) ===
            lit(p.values(1)).cast(vt)
        case other => throw new CqlInvalidQueryException(s"unsupported operator $other")
      }
    case TuplePredicate(cols, "in", vals) =>
      // `(ck1, ck2) IN ((1,2), (3,4))` — an EQ-union over value tuples;
      // `IN ()` matches nothing, like the single-column form
      val l = struct(cols.map(col): _*)
      vals.map { v =>
        val elems = v.asInstanceOf[Seq[Any]]
        l === struct(cols.zip(elems).map { case (c, x) =>
          typedLit(t, c, x) }: _*)
      }.foldLeft(lit(false))(_ || _)
    case TuplePredicate(cols, op, vals) =>
      val l = struct(cols.map(col): _*)
      val r = struct(cols.zip(vals).map { case (c, v) => typedLit(t, c, v) }: _*)
      op match {
        case "<" => l < r
        case "<=" => l <= r
        case ">" => l > r
        case ">=" => l >= r
        case "=" => l === r
        case other => throw new CqlInvalidQueryException(s"unsupported tuple op $other")
      }
    case OrPredicate(branches) =>
      // each branch is a conjunction; the disjunction is their OR — one
      // Catalyst predicate, codegen'd inside the scan like any filter
      branches.map(_.map(predColumn(_, t)).reduce(_ && _)).reduce(_ || _)
  }

  /** `floor(ts, dur)` — epoch-aligned fixed-width bucket (upstream
    * `TimeFcts` floor [U]): the bucket start of `ts` in a grid of `us`
    * microseconds anchored at the epoch. */
  private def floorBucket(ts: Column, us: Long): Column = {
    val micros = unix_micros(ts.cast("timestamp"))
    // exact integral grid: a − (a mod w) (pmod keeps pre-epoch ts on the
    // bucket START, matching upstream floor)
    timestamp_micros(micros - pmod(micros, lit(us)))
  }

  /** The output name a selector will resolve to (alias or upstream
    * default) — needed to re-alias after wrapping in first(). */
  private def selectorOutputName(s: CqlSelector): Option[String] = s match {
    case ColumnSelector(n, alias) => Some(alias.getOrElse(n))
    case CastSelector(c0, _, toName, alias) =>
      Some(alias.getOrElse(s"cast($c0 as $toName)"))
    case ArithSelector(_, text, alias) => Some(alias.getOrElse(text))
    case FunctionSelector(_, _, alias) => alias
    case _ => None
  }

  /** Operator expression → Column (upstream OperationFcts [U]): Spark's
    * numeric type promotion matches CQL's widest-operand rule for the
    * supported numerics; `/` over two INTEGRAL operands is integer
    * division (`div` = Catalyst IntegralDivide, Java truncation
    * semantics), over anything else IEEE division — exactly the upstream
    * split between `OperationFcts.INT_DIVISION` and floating division. */
  private def arithColumn(e: CqlArith, t: CqlTable): Column = e match {
    case ArithCol(n) =>
      if (!t.df.schema.exists(_.name.equalsIgnoreCase(n)))
        throw new CqlInvalidQueryException(s"Undefined column name $n")
      col(n)
    case ArithLit(v: Long) => lit(v)
    case ArithLit(v: Double) => lit(v)
    // a quoted literal inside arithmetic can only be a timestamp operand
    case ArithLit(v: String) => lit(v).cast("timestamp")
    case ArithLit(_: CqlDuration) => throw new CqlInvalidQueryException(
      "a bare duration is not selectable — combine it with a timestamp")
    case ArithLit(other) => throw new CqlInvalidQueryException(
      s"operator expression expects a numeric literal, got $other")
    // a function-call operand: the plain selector translation (the
    // default-name Alias it carries is legal inside an arithmetic tree)
    case ArithFn(f) => selectorColumn(f, t)
    case ArithNeg(i) => negate(arithColumn(i, t))
    case ArithBin(op, l, r) =>
      // timestamp ± duration (CASSANDRA-11936): the duration side becomes
      // a calendar interval (months are calendar months, nanos truncate
      // to make_interval's µs precision — CQL timestamps are ms anyway)
      def durOf(x: CqlArith): Option[CqlDuration] = x match {
        case ArithLit(d: CqlDuration) => Some(d)
        case _ => None
      }
      def isNumLit(x: CqlArith): Boolean = x match {
        case ArithLit(_: Long) | ArithLit(_: Double) => true
        case ArithNeg(i) => isNumLit(i)
        case _ => false
      }
      def tsAdd(tsSide: CqlArith, d: CqlDuration, add: Boolean): Column = {
        if (isNumLit(tsSide)) throw new CqlInvalidQueryException(
          "cannot apply a duration to a number")
        val s = if (add) 1 else -1
        val secs = new java.math.BigDecimal(d.nanos)
          .movePointLeft(9).multiply(new java.math.BigDecimal(s))
        arithColumn(tsSide, t) + call_function("make_interval",
          lit(0), lit(s * d.months), lit(0), lit(s * d.days),
          lit(0), lit(0), lit(secs))
      }
      (durOf(l), durOf(r)) match {
        case (Some(_), Some(_)) => throw new CqlInvalidQueryException(
          "duration-valued selections are not supported — duration " +
            "arithmetic folds only in literal terms")
        case (None, Some(d)) if op == "+" || op == "-" =>
          tsAdd(l, d, op == "+")
        case (Some(d), None) if op == "+" => tsAdd(r, d, add = true)
        case (Some(_), _) | (_, Some(_)) =>
          throw new CqlInvalidQueryException(
            s"the $op operator is not defined on durations")
        case _ =>
          val (lc, rc) = (arithColumn(l, t), arithColumn(r, t))
          op match {
            case "+" => lc + rc
            case "-" => lc - rc
            case "*" => lc * rc
            case "%" => lc % rc
            case "/" =>
              if (arithIntegral(l, t) && arithIntegral(r, t))
                call_function("div", lc, rc) // IntegralDivide, Java semantics
              else lc / rc
          }
      }
  }

  /** Whether an operand is integral-typed — drives the upstream integer-
    * vs-floating division split. */
  private def arithIntegral(e: CqlArith, t: CqlTable): Boolean = e match {
    case ArithCol(n) =>
      t.df.schema.find(_.name.equalsIgnoreCase(n)).map(_.dataType).exists {
        case org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType => true
        case _ => false
      }
    case ArithLit(_: Long) => true
    case ArithLit(_) => false
    case ArithNeg(i) => arithIntegral(i, t)
    case ArithBin(_, l, r) => arithIntegral(l, t) && arithIntegral(r, t)
    // count and the epoch/cell-metadata functions are integral by
    // signature; sum/min/max inherit their column's type
    case ArithFn(f) => f.fn.toLowerCase match {
      case "count" | "tounixtimestamp" | "unixtimestampof" |
           "writetime" | "maxwritetime" | "ttl" | "token" => true
      case "sum" | "min" | "max" => f.args.headOption match {
        case Some(ColArg(n)) => arithIntegral(ArithCol(n), t)
        case _ => false
      }
      case _ => false
    }
  }

  private def selectorColumn(s: CqlSelector, t: CqlTable): Column = s match {
    case Star => col("*")
    case ArithSelector(expr, text, alias) =>
      arithColumn(expr, t).as(alias.getOrElse(text))
    case ColumnSelector(name, alias) =>
      alias.fold(col(name))(col(name).as(_))
    case CastSelector(column, to, toName, alias) =>
      // upstream names the result column `cast(c as type)` (CastFcts [U])
      col(column).cast(to).as(alias.getOrElse(s"cast($column as $toName)"))
    case FunctionSelector(fn, args, alias) =>
      def colArg(i: Int): String = args.lift(i) match {
        case Some(ColArg(n)) => n
        case other => throw new CqlInvalidQueryException(
          s"$fn expects a column reference at argument ${i + 1}, got $other")
      }
      /** literal vector arg (`[1.0, 2.0, …]`) → array<float> column */
      def vecArg(i: Int): Column = args.lift(i) match {
        case Some(ColArg(n)) => col(n)
        case Some(LitArg(CqlList(items))) =>
          array(items.map {
            case d: Double => lit(d.toFloat)
            case l: Long => lit(l.toFloat)
            case other => throw new CqlInvalidQueryException(
              s"vector literal must be numeric, got $other")
          }: _*).cast(org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType))
        case other => throw new CqlInvalidQueryException(
          s"$fn expects a vector at argument ${i + 1}, got $other")
      }
      val c = fn.toLowerCase match {
        case "count" if colArg(0) == "*" => count(lit(1))
        case "count" => count(col(colArg(0)))
        case "min" => min(col(colArg(0)))
        case "max" => max(col(colArg(0)))
        case "sum" => sum(col(colArg(0)))
        case "avg" => avg(col(colArg(0)))
        case "writetime" => maxWritetimeCol(t, colArg(0))
        case "ttl" => ttlCol(t, colArg(0))
        case "tojson" =>
          // the JSON VALUE of one cell of any type (upstream ToJsonFct [U]):
          // serialize a 1-element array (correct escaping/quoting for every
          // type, null included) and strip the surrounding brackets
          // ignoreNullFields must be off: upstream emits UDT null fields
          // explicitly ({"x":1,"y":null}), Spark's default drops them
          val j = to_json(array(col(colArg(0))),
            Map("ignoreNullFields" -> "false"))
          j.substr(lit(2), length(j) - 2)
        case "token" if args.size <= 1 => CassandraModel.tokenOf(col(colArg(0)))
        case "token" => CassandraModel.murmurTokenOf(col(colArg(0)),
          col(colArg(1)), args.indices.drop(2).map(i => col(colArg(i))): _*)
        // the TimeFcts family dispatches on the argument: a string COLUMN
        // is a timeuuid (its embedded ticks are the time), a nested
        // min/maxTimeuuid(…) likewise, anything else converts as a
        // timestamp [U cql3/functions/TimeFcts.java]
        case "todate" | "totimestamp" | "dateof" | "tounixtimestamp" |
             "unixtimestampof" =>
          import graft.functions.TimeuuidFunctions._
          // A string column is only decoded as a timeuuid when the value
          // actually has the v1-uuid shape; a text column holding a plain
          // date/timestamp string converts with cast, as upstream does.
          val uuidV1 =
            "\\A[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-1[0-9a-fA-F]{3}-[89abAB][0-9a-fA-F]{3}-[0-9a-fA-F]{12}\\z"
          val ts = args.lift(0) match {
            case Some(ColArg(n)) if isStringCol(t, n) =>
              when(col(n).rlike(uuidV1), timeuuidToTimestamp(col(n)))
                .otherwise(col(n).cast("timestamp"))
            case Some(ColArg(n)) => col(n).cast("timestamp")
            case Some(LitArg(f: CqlFnLit)) =>
              timeuuidToTimestamp(fnLitUuid(f))
            case Some(LitArg(s: String)) => lit(s).cast("timestamp")
            case other => throw new CqlInvalidQueryException(
              s"$fn expects a timeuuid or timestamp, got $other")
          }
          fn.toLowerCase match {
            case "todate" => to_date(ts)
            case "tounixtimestamp" | "unixtimestampof" => unix_millis(ts)
            case _ => ts
          }
        case "mintimeuuid" | "maxtimeuuid" =>
          val arg = args.lift(0) match {
            case Some(ColArg(n)) => col(n).cast("timestamp")
            case Some(LitArg(s: String)) => lit(s).cast("timestamp")
            case other => throw new CqlInvalidQueryException(
              s"$fn expects a timestamp, got $other")
          }
          fnLitUuid(CqlFnLit(fn.toLowerCase, null), Some(arg))
        // Cassandra 5.0 vector-score functions (cql3/functions/VectorFcts
        // [U]) — resolved through the session-registered graft expressions
        // (GraftExtensions), so they stay codegen'd
        case f @ ("similarity_cosine" | "similarity_euclidean" |
                  "similarity_dot_product") =>
          call_function(f, vecArg(0), vecArg(1))
        case "floor" => args match {
          case Seq(ColArg(n), LitArg(us: Long)) => floorBucket(col(n), us)
          case other => throw new CqlInvalidQueryException(
            s"floor expects (timestamp column, duration), got $other")
        }
        case other =>
          // session-registered functions (CREATE FUNCTION / AGGREGATE)
          userAggs.get(other).orElse(userFns.get(other)) match {
            case Some(f) =>
              if (args.length != f.arity)
                throw new CqlInvalidQueryException(
                  s"$other expects ${f.arity} arguments, got ${args.length}")
              f.impl(args.map {
                case ColArg(n) => col(n)
                case LitArg(v) => litColumn(other, v)
              })
            case None =>
              throw new CqlInvalidQueryException(s"unknown function $other")
          }
      }
      val defaultName = s"${fn.toLowerCase}(" + args.map {
        case ColArg(n) => n
        case LitArg(v) => v.toString
      }.mkString(", ") + ")"
      c.as(alias.getOrElse(defaultName))
  }

  /** A parsed CQL literal as a Column — scalar literals plus list/set
    * collections (user-function arguments). */
  private def litColumn(fn: String, v: Any): Column = v match {
    case null => lit(null)
    case l: Long => lit(l)
    case d: Double => lit(d)
    case b: Boolean => lit(b)
    case s: String => lit(s)
    case CqlList(items) => array(items.map(litColumn(fn, _)): _*)
    case CqlSetLit(items) => array(items.map(litColumn(fn, _)): _*)
    case other => throw new CqlInvalidQueryException(
      s"$fn: unsupported literal argument $other")
  }

  /** writetime(c): the per-cell write timestamp when the view carries it
    * (`_writetime_<col>`, emitted by `reconcileView`), else the row-level
    * `_writetime` of the upsert-log model (SURVEY §7.3 / F9). */
  /** Upstream rejects writetime/ttl on PRIMARY KEY parts (keys have no
    * cell of their own) and on non-frozen collections (multi-cell). */
  private def cellFnGuard(fn: String, t: CqlTable, arg: String): Unit = {
    if ((t.partitionKeys ++ t.clusteringKeys).exists(_.equalsIgnoreCase(arg)))
      throw new CqlInvalidQueryException(
        s"Cannot use selection function $fn on PRIMARY KEY part $arg")
    if (t.df.schema.find(_.name.equalsIgnoreCase(arg)).exists(f =>
        f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] ||
          f.dataType.isInstanceOf[org.apache.spark.sql.types.MapType]))
      throw new CqlInvalidQueryException(
        s"Cannot use selection function $fn on non-frozen collection $arg")
  }

  private def maxWritetimeCol(t: CqlTable, arg: String): Column = {
    cellFnGuard("writetime", t, arg)
    if (t.df.columns.contains(s"_writetime_$arg")) col(s"_writetime_$arg")
    else if (t.df.columns.contains("_writetime")) col("_writetime")
    else throw new CqlInvalidQueryException(
      s"writetime($arg) requires an upsert-log table (no _writetime column)")
  }

  private def ttlCol(t: CqlTable, arg: String): Column = {
    cellFnGuard("ttl", t, arg)
    if (t.df.columns.contains("_ttl")) col("_ttl")
    else throw new CqlInvalidQueryException(
      s"ttl($arg) requires an upsert-log table (no _ttl column)")
  }
}

object CqlEngine {
  /** The `pk = v` relation of each partition-key column, when every one is
    * restricted by exactly one (non-token) equality: the SELECT reads one
    * partition. */
  private[cql] def pinnedPartition(sel: CqlSelect,
      partitionKeys: Seq[String]): Option[Seq[ColumnPredicate]] = {
    val pins = partitionKeys.map(pk => sel.predicates.collect {
      case p: ColumnPredicate if !p.isToken && p.op == "=" &&
          p.column.equalsIgnoreCase(pk) => p
    })
    if (partitionKeys.nonEmpty && pins.forall(_.size == 1))
      Some(pins.map(_.head))
    else None
  }

  /** Catalog over the standard fixture tables with their natural primary
    * keys (partition key first, clustering after — mirrors how a Cassandra
    * data model of this schema would be declared). */
  def forFixtures(spark: SparkSession, dir: String): CqlEngine = {
    import graft.Tables
    new CqlEngine(spark, Map(
      "lineitem" -> CqlTable(Tables.lineitem(spark, dir),
        Seq("l_orderkey"), Seq("l_linenumber")),
      "orders" -> CqlTable(Tables.orders(spark, dir), Seq("o_orderkey")),
      "customer" -> CqlTable(Tables.customer(spark, dir), Seq("c_custkey")),
      "events" -> CqlTable(Tables.events(spark, dir),
        Seq("user_id"), Seq("ts", "event_id")),
      "documents" -> CqlTable(Tables.documents(spark, dir), Seq("doc_id")),
      "embeddings" -> CqlTable(Tables.embeddings(spark, dir), Seq("vec_id"),
        // the fixture data model declares the vector SAI index upstream
        // ANN requires — the ANN gate queries run against this façade
        indexedColumns = Map("embedding" -> Set((true, "")))),
      "upsert_log" -> CqlTable(CassandraModel.upsertLog(spark, dir),
        Seq("pk"), Seq("v"))))
  }
}
