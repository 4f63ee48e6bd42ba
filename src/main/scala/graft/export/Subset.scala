package graft.export

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{EqualTo, InSet}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftShims
import org.apache.spark.sql.types._
import graft.analyse.{ForeignKey, Topo}
import graft.ops.{DriverBudget, OpCaches}

/** Referentially-consistent subsetting — the MINIMISER's hard half:
  * given a sample of one anchor table, compute the smallest restriction
  * of every other table that makes the result a CLOSED database (no
  * foreign key dangles in any table), so the subset restores into a
  * schema with its constraints enabled.
  *
  * The closure is driven by the engine's own FK catalog (metadata
  * scale, the o4 surface) and alternates two sweeps until the set of
  * restricted tables stabilises — on a DAG that is at most #tables
  * rounds, and two in practice:
  *
  *  - DOWN (dependency order, parents first): a table with an FK onto
  *    a restricted table keeps only rows whose parent survived — the
  *    anchor's restriction cascades transitively to its descendants
  *    (orders → lineitem), and later rounds pull newly-restricted
  *    dimensions' children in (customer → events).
  *  - UP (reverse order, children first): a referenced dimension keeps
  *    only rows some RESTRICTED child references — the union of its
  *    restricted children's key columns. Unrestricted children are
  *    deliberately excluded from the union: counting them would keep
  *    the whole dimension alive and defeat minimisation; the next DOWN
  *    sweep restricts them against the now-small parent instead.
  *
  * Scale shape: the sweep is one loop over FK METADATA, and each step
  * restricts a table in one of two forms. [[restrict]] (`graft subset`)
  * chooses one per closure; [[closure]] and [[eraseCascade]] (`graft
  * forget`, o29, o34, p4) take the persisted one:
  *
  *  - held keys (the driver branch): when the key columns of all the
  *    tables it touches fit [[KeyBudget]] rows together, each is probed
  *    ONCE for its key columns (bounded, column-pruned, cast to the
  *    type its edges compare in), and a step is its source scan under
  *    a Catalyst `InSet` of the neighbours' probed keys. Nothing
  *    persists: the payload is read once, when the export renders it,
  *    and the zero-orphan proof is computed on the driver from the
  *    same probed keys, with no further job. It runs only where
  *    re-reading a table yields the same rows (file scans, local and
  *    RDD relations under a deterministic plan and anchor filter) and
  *    every edge compares integral or string keys.
  *  - persisted semi-joins (the distributed branch, everything else):
  *    a step is a LEFT SEMI join whose build side is a key projection
  *    of an already-restricted table — the shape AQE broadcasts once
  *    the anchor sample is small — persisted for later sweeps, the
  *    audit and the export; [[orphanCounts]] proves zero dangling rows
  *    with one aggregate over (edge, key) that moves only key columns,
  *    through one shuffle and no broadcast (`danglingKeys`). A JDBC
  *    source stays here: its cache is the snapshot the audit proves.
  *
  * The o29 catalog entry carries the orphan counts through the oracle
  * gate.
  */
object Subset {

  /** Key rows the closure may hold on the driver, over all its tables,
    * before it goes distributed: 2¹⁷ keeps each `InSet` at a few MB of
    * plan string and task binary.
    */
  val KeyBudget: Long = DriverBudget.keyRows(1L << 17)

  /** The kept frames of a closure, their per-table dangling-row counts
    * (the [[orphanCounts]] map) and the decision of the chooser that
    * produced them.
    */
  final case class Restriction(kept: Map[String, DataFrame], orphans: Map[String, Long],
                               decision: DriverBudget.Decision)

  /** The closure of the anchor rows `anchorFilter` keeps, in the
    * persisted form: callers that read the kept frames more than once
    * (o29's counts and audit, p4's joins) read them from the cache.
    * With the held-key form every such read re-scanned its source under
    * a large `InSet`, and o29 at sf0.1 went from 2.3 to 4.7 s (4 cores).
    */
  def closure(tables: Map[String, DataFrame], fks: Seq[ForeignKey],
              anchor: String, anchorFilter: Column): Map[String, DataFrame] = {
    require(tables.contains(anchor), s"closure: unknown anchor $anchor")
    sweep(tables, fks, anchor, anchorFilter, up = true, Persisted)
  }

  /** GDPR erasure cascade — the subsetting machinery INVERTED: given
    * victim rows in `root` (the erasure request), drop them AND every
    * transitive FK descendant (orders of erased customers, lineitems
    * of those orders, …), so the database stays closed under its
    * constraints after the erasure. Referenced dimensions are NOT
    * touched (erasing a customer must not erase their nation) — this
    * is [[closure]]'s DOWN sweep alone, with the root filter inverted:
    * a child keeps exactly the rows whose parent SURVIVED, the same
    * restriction step the closure uses, persisted as there.
    * [[orphanCounts]] is the post-erasure proof. It never holds keys:
    * an erasure keeps nearly whole tables, whose keys exceed a driver
    * budget at the scales where the held form would pay.
    */
  def eraseCascade(tables: Map[String, DataFrame], fks: Seq[ForeignKey],
                   root: String, victimFilter: Column): Map[String, DataFrame] = {
    require(tables.contains(root), s"eraseCascade: unknown root $root")
    sweep(tables, fks, root, !victimFilter, up = false, Persisted)
  }

  /** [[closure]] together with its zero-orphan proof, for a caller
    * that reads each kept frame once (`graft subset`'s export). The
    * sweep runs over held keys, proven on the driver, when the inputs
    * allow it and the probes of all the tables it restricts or proves
    * hold at most `keyBudget` key rows together; else it runs
    * persisted, proven by [[orphanCounts]], started afresh, so the
    * probe that crosses the budget sends the whole closure distributed
    * (the probes it discards fetched at most `keyBudget + 1` rows). A
    * `keyBudget` ≤ 0 forces the distributed branch without a job. The
    * choice is recorded as the `subset` [[DriverBudget.Decision]], its
    * size the key rows held.
    */
  def restrict(tables: Map[String, DataFrame], fks: Seq[ForeignKey], anchor: String,
               anchorFilter: Column, keyBudget: Long = KeyBudget): Restriction = {
    require(tables.contains(anchor), s"restrict: unknown anchor $anchor")
    val edges = auditedEdges(tables, fks)
    val held = Option.when(keyBudget > 0 && holdable(tables, edges, anchor, anchorFilter))(
      new HeldKeys(edges, keyBudget))
    val r = held.flatMap { h =>
      try {
        val kept = sweep(tables, fks, anchor, anchorFilter, up = true, h)
        Some(Restriction(kept, h.orphans(kept),
          DriverBudget.Decision("subset", Some(h.held), keyBudget, DriverBudget.Driver)))
      } catch { case OverBudget => None }
    }.getOrElse {
      val kept = sweep(tables, fks, anchor, anchorFilter, up = true, Persisted)
      Restriction(kept, orphanCounts(kept, fks),
        DriverBudget.Decision("subset", None, keyBudget, DriverBudget.Distributed))
    }
    DriverBudget.record(r.decision)
    r
  }

  /** The sweep both branches share: the root keeps the rows `keep`
    * selects, then DOWN (and, unless erasing, UP) until the restricted
    * set stops growing; `form` decides how each step restricts.
    */
  private def sweep(tables: Map[String, DataFrame], fks: Seq[ForeignKey], root: String,
                    keep: Column, up: Boolean, form: Form): Map[String, DataFrame] = {
    val order = Topo.sortTablesByDependency(tables.keys.toSeq.sorted, fks)
    val kept = mutable.Map(tables.toSeq: _*)
    kept(root) = form.settle(tables(root).filter(keep))
    untilStable(tables.size, Set(root)) { before =>
      val restricted = down(order, fks, kept, before, form)
      // UP: children first, so a dimension sees final restricted children
      if (!up) restricted
      else order.reverse.filterNot(restricted).foldLeft(restricted) { (r, t) =>
        val childEdges = fks.filter(f =>
          f.referencedTable == t && f.table != t && r(f.table))
        if (childEdges.isEmpty) r
        else {
          val refCols = childEdges.map(_.referencedColumn).distinct
          require(refCols.size == 1,
            s"subset: restricted children reference table $t through different columns " +
              s"(${refCols.sorted.mkString(", ")}); the UP sweep keeps its rows by one column")
          kept(t) = form.settle(form.up(kept(t), refCols.head, childEdges, kept))
          r + t
        }
      }
    }
    kept.toMap
  }

  /** DOWN sweep, parents first so one sweep propagates transitively: an
    * untouched table with an FK onto a `restricted` one keeps only the
    * rows whose parent survived in `kept`. Returns `restricted` plus
    * the tables it restricted.
    */
  private def down(order: Seq[String], fks: Seq[ForeignKey],
                   kept: mutable.Map[String, DataFrame],
                   restricted: Set[String], form: Form): Set[String] =
    order.filterNot(restricted).foldLeft(restricted) { (r, t) =>
      val parentEdges = fks.filter(f =>
        f.table == t && f.referencedTable != t && r(f.referencedTable))
      if (parentEdges.isEmpty) r
      else {
        kept(t) = form.settle(parentEdges.foldLeft(kept(t))(form.down(_, _, kept)))
        r + t
      }
    }

  /** Repeat `sweep` from `start` until the restricted set stops growing,
    * at most `tables + 1` rounds (a DAG settles within #tables).
    */
  private def untilStable(tables: Int, start: Set[String])(
      sweep: Set[String] => Set[String]): Unit = {
    var restricted = start
    var changed = true
    var rounds = 0
    while (changed && rounds < tables + 1) {
      rounds += 1
      val next = sweep(restricted)
      changed = next.size > restricted.size
      restricted = next
    }
  }

  /** How a sweep step restricts a table — one of the two things the
    * branches differ in (the other is the proof).
    */
  private sealed trait Form {
    /** `df` without the rows whose `f.column` matches no kept parent row. */
    def down(df: DataFrame, f: ForeignKey, kept: collection.Map[String, DataFrame]): DataFrame
    /** `df` without the rows whose `refCol` no kept row of `childEdges` references. */
    def up(df: DataFrame, refCol: String, childEdges: Seq[ForeignKey],
           kept: collection.Map[String, DataFrame]): DataFrame
    /** A restricted frame as later steps, the proof and the export read it. */
    def settle(df: DataFrame): DataFrame
  }

  /** Semi-joins against key projections of the kept neighbours; every
    * restricted frame persists (graft.ops.OpCaches scope): each is
    * reused by later sweeps AND by the orphan audit — left lazy, a
    * single o29-style audit re-derives the whole closure chain once per
    * edge (measured 12.9s -> ~2s on the sf0.1 audit).
    */
  private object Persisted extends Form {
    def down(df: DataFrame, f: ForeignKey, kept: collection.Map[String, DataFrame]): DataFrame =
      df.join(kept(f.referencedTable).select(col(f.referencedColumn).as("__pk")),
        df(f.column) === col("__pk"), "left_semi")

    def up(df: DataFrame, refCol: String, childEdges: Seq[ForeignKey],
           kept: collection.Map[String, DataFrame]): DataFrame = {
      // the distinct stays: without it a 20M-row build side with duplicate
      // keys ran this semi-join as a SortMergeJoin over raw keys, 5-7x slower
      val refs = childEdges.map(f => kept(f.table).select(col(f.column).as("__k")))
        .reduce(_ unionAll _).distinct()
      df.join(refs, col(refCol) === col("__k"), "left_semi")
    }

    def settle(df: DataFrame): DataFrame = OpCaches.persist(df)
  }

  /** A held-key probe over budget: the closure goes distributed. */
  private object OverBudget extends scala.util.control.ControlThrowable

  /** `InSet` filters over driver-held keys. Each table is probed once,
    * on first use (after the sweep restricted it, or, for a table the
    * sweep leaves alone, by the proof), for the non-null values of its
    * `edges` columns, each cast to its [[keyType]]. Every probe is
    * charged against one `budget`, since all of them stay held until
    * the proof: the probe that would take the total past it throws
    * [[OverBudget]]. Row order is the scan's, as a filter keeps it.
    */
  private final class HeldKeys(edges: Seq[ForeignKey], budget: Long) extends Form {
    private val probed = mutable.Map.empty[String, Map[String, Array[Any]]]
    /** The key rows the probes returned, all tables together. */
    var held = 0L

    private def keys(t: String, kept: collection.Map[String, DataFrame],
                     column: String): Array[Any] =
      probed.getOrElseUpdate(t, {
        val df = kept(t)
        val cols = edges.flatMap(f => Seq(f.table -> f.column, f.referencedTable -> f.referencedColumn))
          .collect { case (`t`, c) => c }.distinct
        val rows = DriverBudget.probe(
          df.select(cols.map(c => col(c).cast(keyType(df.schema(c).dataType))): _*),
          budget - held).getOrElse(throw OverBudget)
        held += rows.length
        cols.zipWithIndex.map { case (c, i) => c -> rows.flatMap(r => Option(r.get(i))) }.toMap
      })(column)

    /** `column` (cast to its key type) IN `values`, as one Catalyst
      * `InSet` over internal values — no per-literal `Column`.
      */
    private def in(df: DataFrame, column: String, values: Iterator[Any]): DataFrame = {
      val key = col(column).cast(keyType(df.schema(column).dataType))
      df.filter(GraftShims.toColumn(InSet(GraftShims.toExpression(key),
        values.map(CatalystTypeConverters.convertToCatalyst).toSet)))
    }

    def down(df: DataFrame, f: ForeignKey, kept: collection.Map[String, DataFrame]): DataFrame =
      in(df, f.column, keys(f.referencedTable, kept, f.referencedColumn).iterator)

    def up(df: DataFrame, refCol: String, childEdges: Seq[ForeignKey],
           kept: collection.Map[String, DataFrame]): DataFrame =
      in(df, refCol, childEdges.iterator.flatMap(f => keys(f.table, kept, f.column)))

    def settle(df: DataFrame): DataFrame = df

    /** The [[orphanCounts]] map from the held keys: per edge, the child
      * rows whose non-null key no kept parent row holds.
      */
    def orphans(kept: Map[String, DataFrame]): Map[String, Long] =
      kept.map { case (t, _) => t -> 0L } ++ edges.groupMapReduce(_.table) { f =>
        val parent = keys(f.referencedTable, kept, f.referencedColumn).toSet
        keys(f.table, kept, f.column).count(k => !parent(k)).toLong
      }(_ + _)
  }

  private val integral = Set[DataType](ByteType, ShortType, IntegerType, LongType)

  /** The type a held key compares in: bigint for integral columns, the
    * column's own (string) type otherwise.
    */
  private def keyType(dt: DataType): DataType = if (integral(dt)) LongType else dt

  /** The FK edges whose two tables are both in `tables`. */
  private def auditedEdges(tables: Map[String, DataFrame], fks: Seq[ForeignKey]): Seq[ForeignKey] =
    fks.filter(f => tables.contains(f.table) && tables.contains(f.referencedTable))

  /** Whether the held-key branch is exact here: every edge compares
    * integral with integral or string with string (a cast that loses
    * nothing), the anchor filter is deterministic, and every table a step
    * or the proof reads re-reads the same rows at render time — its
    * plan is deterministic over file scans, local or RDD relations.
    */
  private def holdable(tables: Map[String, DataFrame], edges: Seq[ForeignKey],
                       anchor: String, anchorFilter: Column): Boolean = {
    def rereads(df: DataFrame): Boolean = {
      val plan = df.queryExecution.analyzed
      plan.deterministic && plan.collectLeaves().forall {
        case l: LogicalRelation => l.relation.isInstanceOf[HadoopFsRelation]
        case _: LocalRelation | _: LogicalRDD => true
        case _ => false
      }
    }
    def comparable(f: ForeignKey) = {
      val (c, p) = (tables(f.table).schema(f.column).dataType,
        tables(f.referencedTable).schema(f.referencedColumn).dataType)
      (integral(c) && integral(p)) || (c == StringType && p == StringType)
    }
    edges.forall(comparable) && rereads(tables(anchor).filter(anchorFilter)) &&
      edges.flatMap(f => Seq(f.table, f.referencedTable)).distinct.forall(t => rereads(tables(t)))
  }

  /** Per-table dangling-FK row counts over a subset — the closure
    * proof: every count must be zero for the subset to restore under
    * enabled constraints. One action: the dangling groups of
    * `danglingKeys` summed per edge (on a clean subset the last stage
    * reads empty and AQE skips the result job), mapped to their child
    * table on the driver.
    */
  def orphanCounts(kept: Map[String, DataFrame],
                   fks: Seq[ForeignKey]): Map[String, Long] = {
    val (edges, dangling) = danglingKeys(kept, fks)
    kept.map { case (t, _) => t -> 0L } ++ dangling.reduceOption(_ unionAll _).toSeq
      .flatMap(_.groupBy("__e").agg(sum("__n")).collect())
      .groupMapReduce(r => edges(r.getInt(0)).table)(_.getLong(1))(_ + _)
  }

  /** One row per FK edge whose two tables are both in `kept`:
    * `(table_name, column_name, referenced_table, n_orphans)`, the
    * child rows whose non-null key has no parent row (0 on a clean
    * edge), from `danglingKeys`. Callers that also need row counts
    * (o29/o34) union this frame with their count aggregates into ONE
    * action; o43 reads it over the unrestricted tables.
    */
  def orphanEdges(kept: Map[String, DataFrame], fks: Seq[ForeignKey]): DataFrame = {
    val (edges, dangling) = danglingKeys(kept, fks)
    // one zero row per edge, so a clean edge reads 0
    val zeros = SparkSession.active.range(0, edges.size, 1, 1)
      .select(col("id").cast("int").as("__e"), lit(0L).as("__n"))
    def named(f: ForeignKey => String) = typedLit(edges.map(f)).getItem(col("__e"))
    (dangling :+ zeros).reduce(_ unionAll _)
      .groupBy("__e").agg(sum("__n").as("n_orphans"))
      .select(named(_.table).as("table_name"), named(_.column).as("column_name"),
        named(_.referencedTable).as("referenced_table"), col("n_orphans"))
  }

  /** The FK edges whose two tables are both in `kept`, and the dangling
    * `(__e, __n)` groups of their keys: `__e` indexes the edge, `__n`
    * counts the child rows of one key no parent row has. A NULL foreign
    * key dangles nowhere, as under a SQL FK constraint.
    *
    * One aggregate over (edge, key), not one anti-join per edge: each
    * edge contributes its child's key column as `(edge, key, n = 1,
    * parent = false)` and its parent's referenced column as `(edge, key,
    * n = 0, parent = true)`; a group without a parent row dangles. Only
    * key columns move, through one shuffle with a map-side partial
    * aggregate and no broadcast, so a fact table's FK columns shuffle
    * once as distinct (edge, key) pairs instead of once per edge. Keys
    * compare in the type `===` would use: integral keys widen to bigint
    * (exact), and every other comparison type gets its own aggregate.
    */
  private def danglingKeys(kept: Map[String, DataFrame],
                           fks: Seq[ForeignKey]): (Seq[ForeignKey], Seq[DataFrame]) = {
    val edges = auditedEdges(kept, fks)
    val keyed = edges.zipWithIndex.map { case (f, e) =>
      val (child, parent) = (kept(f.table), kept(f.referencedTable))
      val kt = compareType(child.schema(f.column).dataType,
        parent.schema(f.referencedColumn).dataType)
      def rows(df: DataFrame, key: String, isParent: Boolean) = df.select(lit(e).as("__e"),
        col(key).cast(kt).as("__k"), lit(if (isParent) 0L else 1L).as("__n"),
        lit(isParent).as("__p"))
      // NULLs drop before the cast on the child side (a NULL FK
      // references nothing), after it on the parent side (a NULL key
      // matches nothing), so a key the cast nulls still dangles
      kt -> rows(child.filter(col(f.column).isNotNull), f.column, isParent = false)
        .unionAll(rows(parent, f.referencedColumn, isParent = true).filter(col("__k").isNotNull))
    }
    (edges, keyed.map(_._1).distinct.map { kt =>
      keyed.collect { case (`kt`, df) => df }.reduce(_ unionAll _)
        .groupBy("__e", "__k").agg(sum("__n").as("__n"), max("__p").as("__p"))
        .filter(!col("__p")).select("__e", "__n")
    })
  }

  /** The type `child === parent` compares in: integral pairs widen to
    * bigint; any other pair as Spark's type coercion resolves it.
    */
  private def compareType(child: DataType, parent: DataType): DataType = {
    if (integral(child) && integral(parent)) LongType
    else if (child == parent) child
    else SparkSession.active.range(0)
      .select(lit(null).cast(child) === lit(null).cast(parent))
      .queryExecution.analyzed.expressions.head
      .collectFirst { case e: EqualTo => e.left.dataType }.get
  }
}

/** A [[graft.sources.Source]] view restricted to a referentially-
  * consistent subset: metadata (DDL, columns, FKs, table list) passes
  * through to the underlying source; reads serve the closed
  * restriction, tables outside the closure (no FK path to the anchor —
  * e.g. standalone document stores) pass through untouched and keep
  * their own config retain rules. Feeding this into
  * `ExportPipeline.run` composes the full minimiser story —
  * subset → anonymise → topo-ordered dump — without the pipeline
  * knowing subsetting exists.
  */
final class SubsetSource(underlying: graft.sources.Source,
                         kept: Map[String, DataFrame]) extends graft.sources.Source {
  def spark: org.apache.spark.sql.SparkSession = underlying.spark
  def tables: Seq[String] = underlying.tables
  def schemaDDL(table: String): String = underlying.schemaDDL(table)
  def columns(table: String): Seq[graft.analyse.ColumnInfo] = underlying.columns(table)
  def foreignKeys: Seq[ForeignKey] = underlying.foreignKeys
  def read(table: String): DataFrame = kept.getOrElse(table, underlying.read(table))
}
