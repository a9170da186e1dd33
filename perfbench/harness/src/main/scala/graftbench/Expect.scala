package graftbench

import graft.SparkEntry

/** Prints, for each benchmark query, the digest of its result on the
  * benchmark data together with its DuckDB oracle SQL, as one JSON
  * object. `perfbench/make_expected.py` cross-checks the digests
  * against the oracles and writes `perfbench/expected.json`.
  *
  * {{{ graftbench.Expect <parquet dir> }}}
  */
object Expect {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = graft.GraftSession.builder(s"local[$cores]", cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val entries = QueryBench.All.map { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      val (n, h) = QueryBench.digest(df.columns.toIndexedSeq, df.collect().toIndexedSeq)
      spark.catalog.clearCache()
      val oracle = SparkEntry.oracleSql.get(name).map(om.writeValueAsString).getOrElse("null")
      s""""$name":{"rows":$n,"sha256":"$h","oracle":$oracle}"""
    }
    println(entries.mkString("{", ",", "}"))
    spark.stop()
  }
}
