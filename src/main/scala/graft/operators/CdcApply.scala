package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.Hold

/** CDC changelog apply — the MERGE INTO / Delta-style upsert the
  * reference approximates with delete-then-insert idempotency and
  * UPDATE...FROM rewrites (SURVEY §2.10 D2/D3; q91 covers the UPDATE
  * rewrite). This operator covers the general changelog form those
  * patterns are special cases of: a stream of (key, seq, op ∈ I/U/D,
  * payload) rows, possibly OUT OF ORDER and with multiple changes per
  * key, folded onto a base snapshot:
  *
  *  - latest-wins: per key, the change with the highest (seq, op)
  *    wins ('U' beats 'D' on an exact seq tie — the documented,
  *    engine-portable ASCII tiebreak);
  *  - tombstones: a winning 'D' removes the key;
  *  - untouched snapshot keys pass through unchanged.
  *
  * Scale shape: one window shuffle of the CHANGELOG by key (the small
  * side in steady-state CDC — the snapshot is never windowed), then
  * one join of the snapshot against the distilled per-key verdict.
  * With the changelog batch ≪ snapshot, that join broadcasts; with
  * both bucketed by key it is zero-shuffle. No full-outer join, no
  * read-modify-write loop — the snapshot is touched exactly once,
  * which is what makes the pattern viable as a daily MERGE over a
  * 100 TB table.
  */
object CdcApply {

  /** Distill a changelog to its per-key winning row. `seqCols` must
    * give a total order per key (ties broken by op desc: 'U' > 'I' >
    * 'D' in ASCII — update beats delete on an exact tie). */
  def latest(changelog: DataFrame, key: String,
      seqCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(key)
      .orderBy(seqCols.map(c => col(c).desc) :+ col("op").desc: _*)
    changelog.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  /** CDC CAPTURE — the inverse of [[apply]]: diff two snapshots of a
    * keyed table into the minimal I/U/D changelog that transforms the
    * old into the new (applying the captured log to `oldSnap` with
    * [[apply]] reproduces `newSnap` exactly — the round-trip gate in
    * Wave8Spec). Change detection is one null-safe struct comparison
    * over the payload; unchanged keys emit NOTHING, so the changelog
    * is |delta|-sized, not |table|-sized.
    *
    * Scale shape: one key-equi full-outer join (both sides bucketed by
    * key at warehouse scale → zero-shuffle), no windows. This is how a
    * warehouse CAPTURES changes from a source that only offers periodic
    * full snapshots — the reference's nightly-snapshot jobs are exactly
    * that shape. */
  def capture(oldSnap: DataFrame, newSnap: DataFrame,
      key: String): DataFrame = {
    val payload = oldSnap.columns.toSeq.filterNot(_ == key)
    val j = oldSnap.alias("o").join(newSnap.alias("n"),
      col(s"o.$key") === col(s"n.$key"), "full_outer")
    val oldS = struct(payload.map(p => col(s"o.$p")): _*)
    val newS = struct(payload.map(p => col(s"n.$p")): _*)
    val op = when(col(s"o.$key").isNull, "I")
      .when(col(s"n.$key").isNull, "D")
      .when(!(oldS <=> newS), "U")
    j.withColumn("op", op)
      .filter(col("op").isNotNull)
      .select(coalesce(col(s"n.$key"), col(s"o.$key")).as(key) +:
        col("op") +: payload.map(p => col(s"n.$p").as(p)): _*)
  }

  /** Apply the changelog to a snapshot. Payload columns of the two
    * frames must align (same names/types); `op`/seq columns are
    * stripped from the result. Adds `from_change`: whether the row
    * came from the changelog (upsert) or passed through untouched. */
  def apply(snapshot: DataFrame, changelog: DataFrame, key: String,
      seqCols: Seq[String]): DataFrame = {
    // Both branches read the per-key verdict, held once. Left lazy, the
    // window-top-k rule rewrites the key-only branch and not the
    // filtered one, so no exchange is shared and the changelog is
    // distilled twice.
    val win = Hold(latest(changelog, key, seqCols))
    val payload = snapshot.columns.toSeq
    val untouched = snapshot
      .join(win.select(key), Seq(key), "left_anti")
      .withColumn("from_change", lit(false))
    val upserts = win.filter(col("op") =!= "D")
      .select(payload.map(col) :+ lit(true).as("from_change"): _*)
    untouched.unionByName(upserts)
  }
}
