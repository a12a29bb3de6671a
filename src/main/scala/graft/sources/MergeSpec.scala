package graft.sources

import org.apache.spark.sql.Column

/** The generalized SQL MERGE clause shapes shared by the Delta and
  * Iceberg `mergeFlexible` implementations:
  *
  *  - `WHEN MATCHED [AND condition] THEN UPDATE SET a = expr, …` —
  *    partial-column assignments; unassigned columns keep the target
  *    value. `WHEN MATCHED [AND condition] THEN DELETE` sets `delete`.
  *  - `WHEN NOT MATCHED [AND condition] THEN INSERT *` — full-row
  *    insert from the source.
  *
  * Resolution contract: matched-clause expressions (condition and
  * assignment values) evaluate over the JOINED match frame, where
  * TARGET columns keep their plain names and SOURCE columns are
  * prefixed `__src_` ([[MergeSpec.SrcPrefix]]); the not-matched
  * insert condition evaluates over the SOURCE frame by plain names.
  * The SQL analyzer rule rewrites attribute references accordingly.
  *
  * Semantics (one committed version, standard SQL MERGE): matched
  * target rows whose condition holds update/delete; matched rows
  * whose condition does not hold SURVIVE UNCHANGED; source rows with
  * no target match insert when their condition holds. */
object MergeSpec {

  /** Prefix source columns carry inside the joined match frame. */
  val SrcPrefix = "__src_"

  final case class Matched(condition: Option[Column], delete: Boolean,
                           assignments: Seq[(String, Column)] = Seq.empty)

  /** `WHEN NOT MATCHED [AND condition] THEN INSERT …` — empty
    * `assignments` is `INSERT *` (full row from same-named source
    * columns); non-empty carries one expression per TARGET column
    * (the `INSERT (k, v) VALUES (s.k, upper(s.v))` shape), evaluated
    * over the SOURCE frame by plain names. */
  final case class NotMatched(condition: Option[Column],
                              assignments: Seq[(String, Column)] = Seq.empty)

  /** `WHEN NOT MATCHED BY SOURCE [AND condition] THEN UPDATE / DELETE`
    * — applies to TARGET rows with no source match; expressions
    * reference target columns only (there is no source row), plain
    * names over the target frame. */
  final case class NotMatchedBySource(condition: Option[Column],
                                      delete: Boolean,
                                      assignments: Seq[(String, Column)] = Seq.empty)

  /** Ordered FIRST-MATCH-WINS evaluation of several same-shaped
    * clauses — the standard SQL semantics of `WHEN MATCHED [AND c1]
    * THEN … WHEN MATCHED [AND c2] THEN …` (and the BY SOURCE twin):
    * each affected row takes exactly the FIRST clause in declaration
    * order whose condition holds; later clauses never see it. All
    * columns evaluate over the clause frame (joined match frame for
    * matched clauses, target frame for by-source ones); a null
    * condition counts as not-applicable, an absent one as always-
    * applicable. One projection expresses the whole chain — no
    * per-clause pass over the data. */
  final case class OrderedClauses(clauses: Seq[(Option[Column], Boolean, Seq[(String, Column)])]) {
    import org.apache.spark.sql.functions._
    require(clauses.nonEmpty, "no clauses")
    private def condOf(i: Int): Column =
      clauses(i)._1.map(c => coalesce(c, lit(false))).getOrElse(lit(true))
    /** SOME clause applies to the row. */
    def any: Column = clauses.indices.map(condOf).reduce(_ || _)
    /** Index of the FIRST applicable clause (meaningful under [[any]]). */
    private def idx: Column = clauses.indices.foldRight(lit(-1)) {
      (i, acc) => when(condOf(i), lit(i)).otherwise(acc)
    }
    /** The row's first applicable clause is a DELETE. */
    def isDelete: Column = {
      val del = clauses.indices.filter(clauses(_)._2)
      if (del.isEmpty) lit(false) else idx.isin(del.map(Int.box): _*)
    }
    def hasUpdate: Boolean = clauses.exists(!_._2)
    def hasDelete: Boolean = clauses.exists(_._2)
    /** Post-image value of column `name` under the row's first
      * applicable clause (delete-clause rows must be filtered out
      * with [[isDelete]] first; unassigned columns keep `default`).
      * `default` is BY-NAME and never built when every non-delete
      * clause assigns the column — an expression-only INSERT whose
      * source lacks the target column name must not reference it. */
    def value(name: String, default: => Column): Column = {
      val needsDefault = clauses.exists(c =>
        !c._2 && !c._3.exists(_._1 == name))
      val base: Column = if (needsDefault) default else lit(null)
      clauses.indices.foldRight(base) { (i, acc) =>
        val vi =
          if (clauses(i)._2) base // rows on delete clauses filter out
          else clauses(i)._3.toMap.getOrElse(name, base)
        when(idx === i, vi).otherwise(acc)
      }
    }
  }

  def ofMatched(ms: Seq[Matched]): OrderedClauses =
    OrderedClauses(ms.map(m => (m.condition, m.delete, m.assignments)))
  def ofBySource(bs: Seq[NotMatchedBySource]): OrderedClauses =
    OrderedClauses(bs.map(b => (b.condition, b.delete, b.assignments)))
  def ofNotMatched(ns: Seq[NotMatched]): OrderedClauses =
    OrderedClauses(ns.map(n => (n.condition, false, n.assignments)))
}
