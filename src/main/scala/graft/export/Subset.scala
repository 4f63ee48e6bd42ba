package graft.export

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
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
  * Scale shape: every step is a LEFT SEMI join whose build side is a
  * key projection of an already-restricted table — exactly the shape
  * AQE turns into a broadcast once the anchor sample is small; fact
  * tables are never shuffled more than once per incident FK edge, and
  * nothing data-dependent ever sits on the driver (the loop is over FK
  * METADATA). Correct closure is not assumed: [[orphanCounts]] proves
  * zero dangling rows per table, and the o29 catalog entry carries
  * those counts through the oracle gate.
  */
object Subset {

  def closure(tables: Map[String, DataFrame], fks: Seq[ForeignKey],
              anchor: String, anchorFilter: Column): Map[String, DataFrame] = {
    require(tables.contains(anchor), s"closure: unknown anchor $anchor")
    val order = Topo.sortTablesByDependency(tables.keys.toSeq.sorted, fks)
    val kept = mutable.Map(tables.toSeq: _*)
    // every restricted frame persists (graft.ops.OpCaches scope): each
    // is reused by later sweeps AND by the per-edge orphan audit — left
    // lazy, a single o29-style audit re-derives the whole closure chain
    // once per count (measured 12.9s -> ~2s on the sf0.1 audit)
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
    * enabled constraints. All per-edge anti-join counts are unioned
    * into ONE action (the o43 pattern): independent subtrees of a
    * single job run concurrently under Spark's scheduler, where a
    * driver loop of per-edge `.count()`s would serialize the cluster
    * one broadcast join at a time.
    */
  def orphanCounts(kept: Map[String, DataFrame],
                   fks: Seq[ForeignKey]): Map[String, Long] = {
    val perEdge = orphanCountFrames(kept, fks)
    val zero = kept.map { case (t, _) => t -> 0L }
    if (perEdge.isEmpty) zero
    else zero ++ perEdge.reduce(_ unionAll _)
      .groupBy("__t").agg(sum("__n").as("__s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** The un-collected form of [[orphanCounts]]: one `(__t, __n)`
    * single-row aggregate per FK edge. Callers that also need row
    * counts (o29/o34) union these with their count aggregates into ONE
    * action, so the whole audit — closure chains, orphan anti-joins,
    * per-table counts — runs as a single job whose independent
    * subtrees the scheduler overlaps, instead of two serial jobs.
    */
  def orphanCountFrames(kept: Map[String, DataFrame],
                        fks: Seq[ForeignKey]): Seq[DataFrame] =
    kept.toSeq.flatMap { case (t, df) =>
      fks.filter(f => f.table == t && kept.contains(f.referencedTable)).map { f =>
        df.join(kept(f.referencedTable).select(col(f.referencedColumn).as("__pk")),
          df(f.column) === col("__pk"), "left_anti")
          .agg(count(lit(1)).as("__n")).select(lit(t).as("__t"), col("__n"))
      }
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
