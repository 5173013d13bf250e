package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** The physical operator names of a stage's RDDs: each RDD's operation
  * scope, whose type Spark keeps package-private. A stage that ran a
  * `groupByKey` shuffle's map side holds an `AppendColumns` RDD.
  */
object StageScopes {
  def apply(info: StageInfo): Seq[String] =
    info.rddInfos.flatMap(_.scope.map(_.name)).toSeq
}
