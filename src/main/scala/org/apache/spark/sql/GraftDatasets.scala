package org.apache.spark.sql

import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.QueryExecution

/** The package-private parts of `classic.Dataset` that
  * [[graft.ops.Prepared]] uses: a `DataFrame` over a given
  * `QueryExecution`, and the tag a `Dataset` sets on its plan's root. */
object GraftDatasets {
  def ofRows(qe: QueryExecution): DataFrame =
    new classic.Dataset[Row](qe, Encoders.row(qe.analyzed.schema))

  val DatasetIdTag: TreeNodeTag[scala.collection.mutable.HashSet[Long]] =
    classic.Dataset.DATASET_ID_TAG
}
