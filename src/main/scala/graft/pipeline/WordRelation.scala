package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** The distinct-word relation both tokenizer trainers ([[Bpe]] and
  * [[UnigramLm]]) run over, and the size gate that decides where their
  * training loops run.
  *
  * The corpus is read ONCE: one aggregate collapses it to (word, count),
  * one row per distinct space-separated word, and the result is
  * checkpointed and counted. A trainer whose relation holds at most
  * `maxDistinctWords` rows collects it and runs its loop in driver memory,
  * with no Spark job per round; a larger one runs its distributed loop
  * over the same checkpoint, without a second pass over the corpus. Both
  * branches make the same decisions (integer counts, code-point
  * tie-breaks), so the output never depends on the branch taken — the
  * tokenizer specs run each trainer both ways and pin them equal.
  */
object WordRelation {

  /** Default bound on distinct words for training on the driver. A word
    * row costs roughly chars + per-object overhead ≈ 100 B, and the
    * trainers' pair-count or piece tables another few hundred B per
    * distinct entry (~2× words) — ≈ 1-2 GB at 4M words, conservative for
    * default driver heaps. Sampled training corpora (GPT-2's BPE saw
    * ~40 GB of text) hold a few million distinct words. */
  val MaxDistinctWords: Long = 4000000L

  /** (word, corpus count) over `textCol`, eagerly checkpointed (lineage
    * cut, blocks materialised), and its row count. */
  private[pipeline] def checkpointed(
      df: DataFrame, textCol: String): (Dataset[(String, Long)], Long) = {
    val spark = df.sparkSession
    import spark.implicits._
    val words = df
      .select(explode(split(coalesce(col(textCol), lit("")), " ")).as("w"))
      .where(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .localCheckpoint()
      .as[(String, Long)]
    (words, words.count())
  }
}
