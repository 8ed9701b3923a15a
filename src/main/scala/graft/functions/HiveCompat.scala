package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level helpers for reference semantics that compose from Spark
  * built-ins (no custom expression needed).
  */
object HiveCompat {

  /** Hive's `uniontype<T0..Tn>` has no Spark equivalent; the engine encodes a
    * union as `struct<tag: tinyint, field0: T0, ..., fieldN: Tn>` with exactly
    * one non-null payload field (SURVEY.md §1.2). `create_union` (ref
    * ql/udf/generic/GenericUDFUnion, registered FunctionRegistry.java:413)
    * becomes this composition.
    */
  def createUnion(tag: Column, values: Column*): Column =
    struct(
      (tag.cast("tinyint").as("tag") +:
        values.zipWithIndex.map { case (v, i) =>
          when(tag.cast("int") === i, v).as(s"field$i")
        }): _*)

  /** 0-based tag of an encoded union value. */
  def unionTag(u: Column): Column = u.getField("tag")

  /** Hive-0.8 `to_date` returned STRING, not DATE (SURVEY.md §7.4 hard part
    * 2 — documented compat decision: modern DATE semantics by default, this
    * shim where byte-for-byte reference output matters).
    */
  def toDateCompat(c: Column): Column = date_format(to_date(c), "yyyy-MM-dd")
}

