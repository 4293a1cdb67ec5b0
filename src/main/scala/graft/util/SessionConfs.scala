package graft.util

import org.apache.spark.sql.SparkSession

/** Session confs scoped to one block of driver code. */
object SessionConfs {

  /** Runs `body` with `confs` set on the session, then puts each one back
    * exactly as the caller had it: its old value if it was set, unset if it
    * was not (re-setting a default would pin it). The session confs reach
    * executor tasks as SQL local properties, so the tasks of every query
    * `body` runs see them too. */
  def scoped[T](spark: SparkSession, confs: (String, String)*)(body: => T): T = {
    val prev = spark.conf.getAll
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally confs.foreach { case (k, _) =>
      prev.get(k).fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }
}
