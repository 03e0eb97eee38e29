package org.apache.spark.graft

import org.apache.spark.sql.types.StructType

/** Spark's package-private `asNullable`: every field, element and value
  * nullable, which is how Spark's own file sources take a user-given schema
  * (a column missing from older files reads as NULL). */
object AsNullable {
  def apply(s: StructType): StructType = s.asNullable
}
