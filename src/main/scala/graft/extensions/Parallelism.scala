package graft.extensions

import org.apache.spark.sql.DataFrame

private[graft] object Parallelism {

  /** `df` repartitioned to `spark.sql.shuffle.partitions` when its layout is
    * narrower than that, else `df` unchanged. A heavy per-row pass (featurize,
    * trigram explode, media codec) otherwise inherits the file layout: a
    * single-file corpus runs it through one task — measured 4 s featurize +
    * 1 s/step single-core vs ~0.4 s + 0.2 s/step 32-way for the classifier
    * trainer at sf0.1. An input already that wide pays no exchange. Callers'
    * results do not depend on row placement (per-row work, exact integer-sum
    * aggregates, totally ordered outputs).
    */
  def widen(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sessionState.conf.numShufflePartitions
    if (df.rdd.getNumPartitions < par) df.repartition(par) else df
  }
}
