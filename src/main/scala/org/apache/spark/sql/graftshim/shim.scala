package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Bridge between the public `Column` API and catalyst `Expression`s.
  *
  * Spark 4.x hides the classic Column↔Expression conversions behind
  * `private[sql]` (`org.apache.spark.sql.classic.ExpressionUtils`); libraries
  * that add custom codegen expressions conventionally reach them from a shim
  * object placed inside the `org.apache.spark.sql` package namespace. This is
  * the only file outside the `graft` package.
  */
object GraftShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Spark's own bucket-id file-name parser
    * (`org.apache.spark.sql.execution.datasources.BucketingUtils`, also
    * `private[sql]`). The graft store validates a bucket-spec sidecar with
    * THE SAME parser the scan uses, so "every file carries a parseable
    * bucket id" on the read side exactly matches what `FileSourceScanExec`
    * will accept — a divergent reimplementation could admit a file the scan
    * then rejects at runtime.
    */
  def bucketId(fileName: String): Option[Int] =
    org.apache.spark.sql.execution.datasources.BucketingUtils.getBucketId(fileName)

  /** `StructType.asNullable` (`private[spark]`): Spark's file sources read
    * every data column as nullable, whatever a footer declares, and the
    * store's snapshot relation declares its data schema the same way.
    */
  def asNullable(schema: StructType): StructType = schema.asNullable
}
