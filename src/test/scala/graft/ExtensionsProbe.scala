package graft

/** Manual probe for the production extensions path: a FRESH session built
  * with spark.sql.extensions=graft.GraftExtensions must resolve the native
  * functions in SQL. Run: sbt "Test/runMain graft.ExtensionsProbe"
  * (kept in test scope; the spec covers the live-registration path).
  */
object ExtensionsProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder(2)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.log.level", "ERROR")
      .getOrCreate()
    val r = spark.sql(
      "SELECT dot_product(array(1.0d,2.0d), array(3.0d,4.0d)) AS d").first()
    println(s"[extprobe] dot_product via spark.sql.extensions = ${r.getDouble(0)}")
    assert(r.getDouble(0) == 11.0)
    val dl = spark.sql(
      "SELECT damerau_levenshtein('ca', 'abc') AS d").first()
    println(s"[extprobe] damerau_levenshtein via spark.sql.extensions = ${dl.getInt(0)}")
    assert(dl.getInt(0) == 2)
    spark.stop()
  }
}
