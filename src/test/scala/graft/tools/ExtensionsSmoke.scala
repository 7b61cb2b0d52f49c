package graft.tools

/** Dev smoke for the SparkSessionExtensions surface: a FRESH JVM (sbt
  * runMain forks) builds its session with
  * `spark.sql.extensions=graft.functions.GraftExtensions` — the exact conf a
  * production SQL-first consumer sets — and resolves every graft native
  * function from pure SQL, no imperative register() call anywhere. This is
  * the path Round10Spec cannot exercise (the shared test session already
  * exists, so getOrCreate would bypass the extensions hook).
  */
object ExtensionsSmoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.builder(4)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val row = spark.sql(
      """SELECT
        |  cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |             array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS cs,
        |  simhash_long(array('a', 'b', 'a'), 24) AS sh,
        |  winnow_mins(array('a', 'b', 'c', 'd', 'e'), 4) AS wm,
        |  max_run_length(array('x', 'x', 'y')) AS mrl
        |""".stripMargin).head()
    println(s"[smoke] extensions row=$row")
    require(math.abs(row.getDouble(0) - 1.0) < 1e-12, "cosine_sim wrong")
    require(!row.isNullAt(1), "simhash_long null")
    require(row.getSeq[String](2).size == 2, "winnow_mins wrong") // 2 windows
    require(row.getInt(3) == 2, "max_run_length wrong")
    println("[smoke] all native functions resolve via spark.sql.extensions")
    spark.stop()
  }
}
