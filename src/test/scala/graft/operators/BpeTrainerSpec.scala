package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** BPE training semantics on a hand-computable vocabulary. */
class BpeTrainerSpec extends AnyFunSuite with SparkSuite {

  private def vocab = {
    import spark.implicits._
    // pair counts, round 1: "he" 10, "el" 10, "ll" 8, "lo" 5, "lp" 2
    // → tie at 10 broken lexicographically: ("e","l") wins
    Seq(("hello", 5L), ("hell", 3L), ("help", 2L)).toDF("w", "wc")
  }

  test("learns merges in frequency order with lexicographic tie-break") {
    val (model, fin) = BpeTrainer.train(vocab, merges = 3)
    // round 1: ("e","l") [tie with ("h","e") at 10, lexicographic]
    // round 2: syms h,el,l,o / h,el,l / h,el,p → ("h","el") 10 vs ("el","l") 8
    // round 3: hel,l,o / hel,l / hel,p → ("hel","l") 8
    assert(model.merges === Seq(("e", "l"), ("h", "el"), ("hel", "l")))
    val syms = fin.select(col("w"), concat_ws("|", col("syms")).as("s"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(syms("hello") === "hell|o")
    assert(syms("hell") === "hell")
    assert(syms("help") === "hel|p")
  }

  test("leftmost-first greedy merge handles overlapping runs") {
    import spark.implicits._
    // "aaaa" with merge (a,a): leftmost-first gives aa|aa, never a|aa|a
    val df = Seq(("aaaa", 1L)).toDF("w", "wc")
      .select(col("w"),
        filter(split(col("w"), "(?!^)"), x => length(x) > 0).as("syms"))
      .select(concat_ws("|",
        BpeTrainer.applyMerge(col("syms"), "a", "a")).as("s"))
    assert(df.head().getString(0) === "aa|aa")
  }

  test("tokenize applies learned merges to unseen words") {
    val (model, _) = BpeTrainer.train(vocab, merges = 3)
    import spark.implicits._
    val toks = BpeTrainer.tokenize(Seq(("shelf", 0L)).toDF("w", "wc"), model)
      .select(concat_ws("|", col("syms")).as("s")).head().getString(0)
    // s,h,e,l,f → el → s,h,el,f ; (h,el) → s,hel,f ; (hel,l) no-op
    assert(toks === "s|hel|f")
  }

  test("stops early when every word is a single symbol") {
    import spark.implicits._
    val tiny = Seq(("ab", 1L)).toDF("w", "wc")
    val (model, fin) = BpeTrainer.train(tiny, merges = 10)
    assert(model.merges === Seq(("a", "b")))
    assert(fin.select(size(col("syms"))).head().getInt(0) === 1)
  }

  test("minPairCount stops once the best pair drops under the floor") {
    // vocab round-1 pair counts: he 10, el 10, ll 8, lo 5, lp 2.
    // With floor 6 the trainer takes (e,l), (h,el) [10], (hel,l) [8],
    // then the best remaining is (hel,o)=5 < 6 → stop at 3 merges even
    // though 10 rounds were allowed.
    val (model, _) = BpeTrainer.train(vocab, merges = 10, minPairCount = 6L)
    assert(model.merges === Seq(("e", "l"), ("h", "el"), ("hel", "l")))
  }

  test("two-space-separator replace equals the greedy fold (q_bpe_loop " +
       "oracle identity) on exhaustive small alphabets") {
    // The DuckDB twin of q_bpe_loop applies a merge as ONE
    //   trim(replace('  '||seq||'  ', ' x  y ', ' xy '))
    // over a TWO-space-separated symbol string. Each match consumes one
    // space from each double separator, so consecutive non-overlapping
    // occurrences keep their anchors and left-to-right replace-all IS
    // the trainer's leftmost-first greedy fold. (The naive single-space
    // encoding is NOT equivalent — ' a a a a a ' diverges because a
    // match eats the next occurrence's leading sentinel; this test
    // caught that.) Check the identity exhaustively over every
    // {a,b}-sequence up to length 9 and every pair — 1022 sequences × 4
    // pairs covers every overlap/adjacency shape ((a,a) runs, (a,b)
    // alternations, boundary chains) that random sampling could miss.
    def greedy(seq: List[String], x: String, y: String): List[String] =
      seq match {
        case a :: b :: rest if a == x && b == y => (x + y) :: greedy(rest, x, y)
        case a :: rest => a :: greedy(rest, x, y)
        case Nil => Nil
      }
    def sqlReplace(seq: List[String], x: String, y: String): List[String] = {
      // Java String.replace = leftmost non-overlapping replace-all,
      // exactly DuckDB's replace()
      val merged = ("  " + seq.mkString("  ") + "  ")
        .replace(s" $x  $y ", s" $x$y ").trim
      if (merged.isEmpty) Nil else merged.split("  ").toList
    }
    val syms = Seq("a", "b")
    val seqs = (1 to 9).flatMap(n =>
      Seq.fill(n)(syms).foldLeft(Seq(List.empty[String])) {
        (acc, choices) => acc.flatMap(p => choices.map(c => p :+ c))
      })
    for (s <- seqs; x <- syms; y <- syms) {
      assert(greedy(s.toList, x, y) === sqlReplace(s.toList, x, y),
        s"diverged on seq=$s pair=($x,$y)")
    }
    // multi-char symbols (later rounds merge merged symbols): prefix
    // collisions like ("a","ab") and ("ab","b") must stay boundary-safe
    for {
      s <- Seq(List("a", "ab", "b"), List("ab", "a", "b", "ab"),
        List("a", "a", "ab", "ab", "a"), List("b", "ab", "ab", "ab"))
      x <- Seq("a", "b", "ab"); y <- Seq("a", "b", "ab")
    } assert(greedy(s, x, y) === sqlReplace(s, x, y),
      s"diverged on seq=$s pair=($x,$y)")
    // and the Spark fold agrees with the Scala greedy reference on the
    // worst overlap shapes (the expression is what q_bpe_loop executes)
    import spark.implicits._
    val worst = Seq("aaaaaaa", "abababa", "aabbaab", "baaaab")
    val df = worst.map(w => (w, 1L)).toDF("w", "wc")
      .select(col("w"),
        filter(split(col("w"), "(?!^)"), c => length(c) > 0).as("syms"))
      .select(col("w"), concat_ws("|",
        BpeTrainer.applyMerge(col("syms"), "a", "a")).as("s"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    for (w <- worst)
      assert(df(w) === greedy(w.map(_.toString).toList, "a", "a").mkString("|"))
  }

  test("default minPairCount=1 is behavior-identical to fixed rounds") {
    // Oracle parity: the flag's default must not change any merge the
    // fixed-rounds trainer would learn.
    val (a, _) = BpeTrainer.train(vocab, merges = 3)
    val (b, _) = BpeTrainer.train(vocab, merges = 3, minPairCount = 1L)
    assert(a.merges === b.merges)
  }
}
