package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.classic.{Dataset => ClassicDataset}

/** Re-instancing of a resolved DataFrame.
  *
  * `freshInstance(df)` is `df`'s analyzed plan under fresh attribute ids:
  * exactly the re-instanced side the analyzer builds for `df.join(df)`.
  * The leaf relations (a parquet file listing and its schema, a JDBC relation and
  * its partitioning) are shared, so nothing is re-resolved, yet every copy
  * behaves in a self-join like an independent read of the same source.
  * `Dataset.ofRows` is `private[sql]`, hence this file's package.
  */
object PlanBridge {
  def freshInstance(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[ClassicDataset[Row]]
    val ids = ds.queryExecution.analyzed.output.map(_.exprId).toSet
    // the analyzer re-instances one side of the self-join, not
    // necessarily the right one: take the side with no original id
    ds.crossJoin(ds).queryExecution.analyzed.children
      .find(_.output.forall(a => !ids(a.exprId))) match {
      case Some(fresh) =>
        // the copy inherited `df`'s Dataset-id tag, a mutable set shared
        // by reference: left in place, every copy would claim every other
        // copy's columns and each self-join would fail as ambiguous
        fresh.unsetTagValue(ClassicDataset.DATASET_ID_TAG)
        ClassicDataset.ofRows(ds.sparkSession, fresh)
      case None => throw new IllegalStateException(
        "the analyzer left no side of a self-join re-instanced")
    }
  }
}
