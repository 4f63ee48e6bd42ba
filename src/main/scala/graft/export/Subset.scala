package graft.export

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.EqualTo
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.analyse.{ForeignKey, Topo}

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
  *    restricted children's key columns, semi-joined. Unrestricted
  *    children are deliberately excluded from the union: counting them
  *    would keep the whole dimension alive and defeat minimisation;
  *    the next DOWN sweep restricts them against the now-small parent
  *    instead.
  *
  * Scale shape: every sweep step is a LEFT SEMI join whose build side
  * is a key projection of an already-restricted table — exactly the
  * shape AQE turns into a broadcast once the anchor sample is small;
  * fact tables are never shuffled more than once per incident FK edge,
  * and nothing data-dependent ever sits on the driver (the loop is over
  * FK METADATA). Correct closure is not assumed: [[orphanCounts]]
  * proves zero dangling rows per table with one aggregate over
  * (edge, key) that moves only key columns, through one shuffle and no
  * broadcast (`danglingKeys`), and the o29 catalog entry carries those
  * counts through the oracle gate.
  */
object Subset {

  def closure(tables: Map[String, DataFrame], fks: Seq[ForeignKey],
              anchor: String, anchorFilter: Column): Map[String, DataFrame] = {
    require(tables.contains(anchor), s"closure: unknown anchor $anchor")
    val order = Topo.sortTablesByDependency(tables.keys.toSeq.sorted, fks)
    val kept = mutable.Map(tables.toSeq: _*)
    // every restricted frame persists (graft.ops.OpCaches scope): each
    // is reused by later sweeps AND by the orphan audit — left lazy, a
    // single o29-style audit re-derives the whole closure chain once per
    // edge (measured 12.9s -> ~2s on the sf0.1 audit)
    kept(anchor) = graft.ops.OpCaches.persist(tables(anchor).filter(anchorFilter))
    untilStable(tables.size, Set(anchor)) { before =>
      val restricted = down(order, fks, kept, before)
      // UP: children first, so a dimension sees final restricted children
      order.reverse.filterNot(restricted).foldLeft(restricted) { (r, t) =>
        val childEdges = fks.filter(f =>
          f.referencedTable == t && f.table != t && r(f.table))
        if (childEdges.isEmpty) r
        else {
          val refCols = childEdges.map(_.referencedColumn).distinct
          require(refCols.size == 1,
            s"subset: restricted children reference table $t through different columns " +
              s"(${refCols.sorted.mkString(", ")}); the UP sweep keeps its rows by one column")
          val refCol = refCols.head
          // the distinct stays: without it a 20M-row build side with duplicate
          // keys ran this semi-join as a SortMergeJoin over raw keys, 5-7x slower
          val refs = childEdges.map(f => kept(f.table).select(col(f.column).as("__k")))
            .reduce(_ unionAll _).distinct()
          kept(t) = graft.ops.OpCaches.persist(
            kept(t).join(refs, col(refCol) === col("__k"), "left_semi"))
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
                   restricted: Set[String]): Set[String] =
    order.filterNot(restricted).foldLeft(restricted) { (r, t) =>
      val parentEdges = fks.filter(f =>
        f.table == t && f.referencedTable != t && r(f.referencedTable))
      if (parentEdges.isEmpty) r
      else {
        kept(t) = graft.ops.OpCaches.persist(
          parentEdges.foldLeft(kept(t)) { (df, f) =>
            df.join(kept(f.referencedTable).select(col(f.referencedColumn).as("__pk")),
              df(f.column) === col("__pk"), "left_semi")
          })
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

  /** GDPR erasure cascade — the subsetting machinery INVERTED: given
    * victim rows in `root` (the erasure request), drop them AND every
    * transitive FK descendant (orders of erased customers, lineitems
    * of those orders, …), so the database stays closed under its
    * constraints after the erasure. Referenced dimensions are NOT
    * touched (erasing a customer must not erase their nation) — this
    * is [[closure]]'s DOWN sweep alone, with the root filter inverted:
    * a child keeps exactly the rows whose parent SURVIVED, which is
    * the same left-semi-against-kept-parent join the closure uses, so
    * the scale shape is identical (broadcast key projections, fact
    * tables shuffled at most once per incident edge, metadata-only
    * driver loop). [[orphanCounts]] is the post-erasure proof.
    */
  def eraseCascade(tables: Map[String, DataFrame], fks: Seq[ForeignKey],
                   root: String, victimFilter: Column): Map[String, DataFrame] = {
    require(tables.contains(root), s"eraseCascade: unknown root $root")
    val order = Topo.sortTablesByDependency(tables.keys.toSeq.sorted, fks)
    val kept = mutable.Map(tables.toSeq: _*)
    kept(root) = graft.ops.OpCaches.persist(tables(root).filter(!victimFilter))
    untilStable(tables.size, Set(root))(down(order, fks, kept, _))
    kept.toMap
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
    val edges = fks.filter(f => kept.contains(f.table) && kept.contains(f.referencedTable))
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
    val integral = Set[DataType](ByteType, ShortType, IntegerType, LongType)
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
