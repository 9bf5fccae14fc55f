package graft

import org.apache.spark.sql.functions._

/** Dev-only production-vocab BPE training measurement (r14): the
  * driver-local incremental trainer (Bpe.trainLocalMerges) at real
  * merge budgets. Two claims to pin:
  *
  *   1. TRAINING is corpus-independent: once the vocab-bounded word
  *      histogram is collected, m=1,000 (and m=8,000) merges train in
  *      seconds in driver memory — vs the distributed trajectory's
  *      one-Spark-job-per-merge, which is already ~10 s at m=12.
  *   2. The corpus only pays the ONE histogram scan, whose cost is
  *      the same corpus aggregate every other stage already does.
  *
  * Run:
  *   SPARK_GRAFT_CPUS=32 sbt -batch "Test/runMain graft.DevScaleBpe"
  *
  * Vocab legs: the real sf0.1 histogram, plus a synthetic 50k-word /
  * 200k-word Zipf vocabulary (the real corpus's lowercase-word
  * generator tops out at a few thousand distinct words, far below a
  * crawl's). Headline numbers land in docs/SCALE.md "BPE training".
  */
object DevScaleBpe {
  private def synthVocab(n: Int): Seq[(String, Long)] =
    (0 until n).map { i =>
      // splitmix-style mixer — deterministic, ~n distinct words
      var h = i.toLong * 0x9E3779B97F4A7C15L
      def next(): Int = {
        h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL; h ^= h >>> 29
        (h & 0x7fffffffL).toInt
      }
      val len = 3 + next() % 9
      val w = (0 until len).map(_ => ('a' + next() % 26).toChar).mkString
      (w, (n.toLong / (i + 1)) + 1L) // Zipf-ish counts
    }.groupBy(_._1).map { case (w, xs) => (w, xs.map(_._2).sum) }.toSeq

  private def timeLocal(vocab: Seq[(String, Long)], m: Int): (Double, Int) = {
    val t0 = System.nanoTime()
    val (merges, _) = graft.text.Bpe.trainLocalMerges(vocab, m)
    ((System.nanoTime() - t0) / 1e9, merges.length)
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.engine()
    spark.range(1000000).selectExpr("sum(id * 2)").collect()

    // leg 0: the one corpus cost — the histogram scan (sf0.1)
    val docs = spark.read
      .parquet("/root/testdata/sf0.1/documents.parquet")
    val t0 = System.nanoTime()
    val hist = docs.select(explode(
        graft.text.TextFunctions.tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .collect().iterator.map(r => (r.getString(0), r.getLong(1))).toVector
    val scanS = (System.nanoTime() - t0) / 1e9
    println(f"histogram scan sf0.1: vocab=${hist.size}%-7d wall=$scanS%6.2f s")

    // leg 1: real-corpus vocab, rising merge budgets (exhausts early
    // on the small vocab — the printed m' is the trajectory length)
    Seq(12, 100, 1000).foreach { m =>
      val (s, got) = timeLocal(hist, m)
      println(f"local train  real-vocab(${hist.size}%d) m=$m%-5d merges=$got%-5d wall=$s%7.3f s")
    }

    // leg 2: crawl-scale synthetic vocabularies
    Seq(50000, 200000).foreach { n =>
      val v = synthVocab(n)
      Seq(1000, 8000).foreach { m =>
        val (s, got) = timeLocal(v, m)
        println(f"local train  synth-vocab(${v.size}%d) m=$m%-5d merges=$got%-5d wall=$s%7.3f s")
      }
    }

    // leg 2b: the WordPiece sibling (r14) — per-merge argmax is a
    // vocab-bounded SCAN (denominator drift; no lazy heap), so this
    // pins the O(m·P) claim at crawl-vocab scale
    Seq(50000, 200000).foreach { n =>
      val v = synthVocab(n)
      Seq(1000, 8000).foreach { m =>
        val t = System.nanoTime()
        val got = graft.text.Wordpiece.trainLocalMerges(v, m)._1.length
        println(f"local train  WORDPIECE synth-vocab(${v.size}%d) m=$m%-5d merges=$got%-5d " +
          f"wall=${(System.nanoTime() - t) / 1e9}%7.3f s")
      }
    }

    // leg 2c: the Unigram sibling (r15) — seed-substring histogram +
    // Rounds hard-EM Viterbi passes + the final tokenization pass;
    // cost is O(rounds × Σ|w|·MaxPieceLen) hash-map work, so the
    // grade is near-linear in total word length, corpus-independent
    Seq(50000, 200000).foreach { n =>
      val v = synthVocab(n)
      val t = System.nanoTime()
      val (pieces, lens) = graft.text.Unigram.trainLocal(v)
      println(f"local train  UNIGRAM synth-vocab(${v.size}%d) " +
        f"pieces=${pieces.length}%-5d words=${lens.length}%-7d " +
        f"wall=${(System.nanoTime() - t) / 1e9}%7.3f s")
    }

    // leg 3: the distributed trajectory at m=12 for contrast (the
    // per-merge Spark-job cost the local path eliminates)
    val t1 = System.nanoTime()
    graft.text.Bpe.train(spark, docs, 12).collect()
    println(f"distributed train sf0.1 m=12: wall=${(System.nanoTime() - t1) / 1e9}%6.2f s")
    spark.stop()
  }
}
