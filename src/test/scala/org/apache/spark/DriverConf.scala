package org.apache.spark

/** Test access to the driver's live SparkConf, which Spark keeps
  * package-private: run `f` with `key` set to `value`, then restore
  * the key. Settings the scheduler reads per job, such as
  * `spark.driver.maxResultSize`, apply to the jobs `f` starts. */
object DriverConf {
  def withValue[A](sc: SparkContext, key: String, value: String)(f: => A): A = {
    val before = sc.conf.getOption(key)
    sc.conf.set(key, value)
    try f finally before.fold(sc.conf.remove(key))(sc.conf.set(key, _))
  }
}
