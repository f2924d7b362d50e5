package org.apache.spark.sql.graftshim

import org.apache.spark.sql.types.StructType

/** Bridge to Spark's `private[spark]` `StructType.asNullable`: the
  * file source makes every data schema nullable, so a schema read from
  * a parquet footer must be too to equal the one Spark infers. */
object SchemaShim {
  def asNullable(s: StructType): StructType = s.asNullable
}
