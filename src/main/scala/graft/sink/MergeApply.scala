package graft.sink

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed upsert/delete application semantics (SURVEY §2 W1/W2/O1) as
  * pure DataFrame algebra. The reference applies ops one at a time on a
  * single goroutine (`run.go:301-322`), which gives it global order for
  * free; at scale, order only matters *per key*, so we reduce each key to
  * its last image with a window over `(ts, tieBreak)` and apply once per
  * key per batch — one shuffle on the key, no serialized consumer.
  */
object MergeApply {

  /** O1: per-key last-write-wins reduction. Keeps exactly the latest row
    * per `key` ordered by `ordering` (e.g. ts, then a unique tiebreaker so
    * the result is deterministic under equal timestamps).
    *
    * The formulation is the `max_by(struct(*), struct(ordering))`
    * AGGREGATE (the [[foldChanges]] pattern): map-side partial combine
    * reduces each (key, task) to one candidate row before the shuffle, so
    * a hot key ships one row per upstream task instead of its whole
    * change history — the skew-immune shape for the W1 apply hot path.
    * The row values ride inside a struct so legitimate NULLs survive the
    * argmax. The window `row_number` formulation stays as the test twin
    * [[lastImageWindowed]]; MergeApplySpec pins agg ≡ window. */
  def lastImage(changes: DataFrame, key: Seq[String], ordering: Seq[Column]): DataFrame = {
    val cols = changes.columns.toSeq
    // key columns re-emerge from the GROUP BY output (same attribute →
    // the aggregate's hash partitioning survives the projection, so a
    // downstream join on the key reuses this exchange); value columns
    // come out of the argmax struct
    changes
      .groupBy(key.map(col): _*)
      .agg(max_by(struct(cols.map(col): _*), struct(ordering: _*)).as("__img"))
      .select(cols.map(c =>
        if (key.contains(c)) col(c) else col(s"__img.`$c`").as(c)): _*)
  }

  /** The window formulation of [[lastImage]] — kept as the spec-pinned
    * twin (deterministic under the same total `ordering`). */
  private[graft] def lastImageWindowed(
      changes: DataFrame, key: Seq[String], ordering: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(key.map(col): _*).orderBy(ordering.map(_.desc): _*)
    changes
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** W1+W2: apply a changelog (with an `op` column ∈ insert|update|delete…)
    * onto a base snapshot. Semantics mirror the reference's idempotent
    * upsert (`mysql.go:357-374`) + delete (`mysql.go:507-534`):
    *   - latest op per key wins (per-key `ts` order, O1);
    *   - latest op = delete  → row absent from result;
    *   - latest op = upsert  → change row's values win over base's,
    *     column-wise coalesce so partial images preserve untouched columns
    *     (`mysql.go:456-459`: absent field → column omitted from SET).
    *
    * CONTRACT: correct for deletes and for full images whose every
    * DECLARED column carries a value. Each key is reduced to its single
    * latest change row, so when several PARTIAL images touch different
    * columns of one key inside a batch, the earlier partials' fields
    * are discarded (the base value survives instead of theirs) — and
    * NULL-in-the-change-row cannot be told apart from not-present (no
    * `$unset`→NULL), so a full image that DROPS a field (its decoded
    * row NULL-fills the column) resurrects the base value instead of
    * nulling it. Streams carrying partial images, unsets, or
    * field-dropping replaces must use [[foldChanges]], whose
    * partial/unsets encoding disambiguates all three — the columnar
    * analog of the reference's sequential per-op apply
    * (`run.go:301-322`, `mysql.go:449-476`).
    *
    * `valueCols` are the data columns shared by both sides. Base rows
    * untouched by any change pass through. Plan shape: one shuffle for the
    * window, one for the full-outer join — both on `key`, so AQE can
    * co-locate them; at 100 TB the base side should be bucketed by `key`.
    */
  def applyChanges(
      base: DataFrame,
      changes: DataFrame,
      key: String,
      opCol: String,
      ordering: Seq[Column],
      valueCols: Seq[String],
      deleteOp: String = "delete"): DataFrame = {
    val last = lastImage(changes, Seq(key), ordering)
    val c = last.select((col(key) +: col(opCol).as("__op") +: valueCols.map(v => col(v).as(s"__c_$v"))): _*)
    base.join(c, Seq(key), "full_outer")
      .filter(col("__op").isNull || col("__op") =!= deleteOp)
      .select(col(key) +: valueCols.map(v => coalesce(col(s"__c_$v"), col(v)).as(v)): _*)
  }

  /** Sequential-fold apply: every op per key folded in `ordering` order —
    * equivalent to the reference's one-at-a-time apply loop
    * (`run.go:301-322`, `mysql.go:449-476`) but expressed as ONE aggregate
    * with map-side partial combine, so the shuffle carries one folded row
    * per (key, task), never the op stream.
    *
    * The change stream's columnar encoding:
    *   - `partialCol` (boolean): false = full image (insert/replace — absent
    *     declared columns become NULL, `mysql.go:381-407`); true = partial
    *     ($set-style — NULL means NOT TOUCHED, `mysql.go:456-459`);
    *   - `unsetsCol` (array&lt;string&gt;): columns this op explicitly sets
    *     to NULL ($unset / $set:null) — the marker that disambiguates
    *     "absent" from "nulled";
    *   - delete ops reset every column, so pre-delete values never leak
    *     into a row re-created by later ops.
    *
    * Per column the fold is an argmax: the value at the LAST op that
    * touched it (full images and deletes touch every column). The base
    * value survives only when NO op touched the column. A key is absent
    * from the result iff its last state-resetting op is a delete with no
    * ops after it. Assumes well-formed streams (ops after a delete begin
    * with a full image, as in an oplog); a malformed partial-after-delete
    * still gets MySQL-upsert semantics: row re-created from the partial's
    * fields alone.
    *
    * Values are struct-wrapped inside the argmax so a legitimate folded
    * NULL (unset) survives aggregation — both Spark's `max_by` and the
    * DuckDB oracle's `arg_max` would otherwise skip NULL values. */
  def foldChanges(
      base: DataFrame,
      changes: DataFrame,
      key: String,
      opCol: String,
      partialCol: String,
      unsetsCol: String,
      ordering: Seq[Column],
      valueCols: Seq[String],
      deleteOp: String = "delete"): DataFrame = {
    val ord = struct(ordering: _*)
    val isDel = col(opCol) === deleteOp
    val resets = !col(partialCol) || isDel // full images and deletes discard prior state
    def touches(v: String): Column =
      resets || col(v).isNotNull || array_contains(col(unsetsCol), v)
    def eff(v: String): Column =
      when(isDel || array_contains(col(unsetsCol), v), lit(null)).otherwise(col(v))

    val perCol = valueCols.flatMap { v =>
      Seq(
        max_by(struct(eff(v).as("v")), when(touches(v), ord)).as(s"__f_$v"),
        max(when(touches(v), ord)).isNotNull.as(s"__t_$v"))
    }
    val aggs = Seq(
      max(ord).as("__lastord"),
      max(when(resets, ord)).as("__bord"),
      coalesce(max_by(isDel, when(resets, ord)), lit(false)).as("__bdel")) ++ perCol
    val folded = changes.groupBy(col(key)).agg(aggs.head, aggs.tail: _*)
      .withColumn("__gone",
        col("__bdel") && col("__bord") === col("__lastord"))

    val joined = base.join(folded, Seq(key), "full_outer")
    joined
      .filter(col("__lastord").isNull || !col("__gone"))
      .select(col(key) +: valueCols.map { v =>
        when(coalesce(col(s"__t_$v"), lit(false)), col(s"__f_$v.v"))
          .otherwise(col(v)).as(v)
      }: _*)
  }

  /** J1: delete-reconciliation — every key present in the sink but absent
    * from the source must be deleted. The reference does one `FindOne` per
    * sink row (`run.go:256-279`, O(n) round-trips); here it is a single
    * broadcast-or-shuffle left-anti join. */
  def deleteReconcile(sinkIds: DataFrame, sourceIds: DataFrame, key: String): DataFrame =
    sinkIds.join(sourceIds, Seq(key), "left_anti")
}
