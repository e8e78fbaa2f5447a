package graft

import scala.util.Random

import org.apache.spark.sql.DataFrame

import graft.operators.JoinSearch

/** Randomized cross-strategy equivalence: the seven physical
  * strategies (anchored default, windowed, groupBy-variant, row-wise,
  * cell-wise, hint-free shuffled, sketch-pruned) are independent
  * plans for one semantics — on any input
  * they must produce identical ranked scores. Random corpora use a
  * tiny key alphabet to force hot keys, multi-column collisions,
  * duplicate query rows, duplicate-key query rows, and nulls — the
  * edge geometry hand fixtures miss. Each round also batches its
  * query with a second random one (drawn from a generator of its own,
  * so the round's corpus and query stay those of its seed): every
  * member's slice of the batch must equal that member's windowed
  * search. Fixed seed: failures reproduce.
  */
class JoinSearchPropertySpec extends SparkTestBase {
  import spark.implicits._

  private val cols = Seq("qa", "qb")

  private def assertBatchMembers(index: DataFrame, queries: Seq[DataFrame],
      cs: Seq[String], round: Int): Unit = {
    val members = queries.zipWithIndex.map { case (q, i) => (s"q$i", q, cs) }
    val batch = JoinSearch.searchTablesBatch(index, members)
      .as[(String, Int, Long)].collect().toSeq
    members.foreach { case (qid, q, _) =>
      val ref = JoinSearch.searchTablesWindowed(index, q, cs)
        .as[(Int, Long)].collect().toSeq
      assert(batch.collect { case (`qid`, t, sc) => (t, sc) } == ref,
        s"round $round: batch member $qid diverged from windowed at N=${cs.size}")
    }
  }

  test("all seven strategies agree on random hot-key corpora (seed 42)") {
    val rnd = new Random(42)
    val alphabet = Vector("a", "b", "c", "d", "e f", "g")
    def key(r: Random = rnd) = alphabet(r.nextInt(alphabet.size))
    def randomQuery(r: Random) = Seq.fill(3 + r.nextInt(4)) {
      val a = if (r.nextInt(10) == 0) null else key(r)
      // occasional duplicate-key rows (qa == qb) and repeated rows
      val b = if (r.nextInt(4) == 0) a else key(r)
      (a, b)
    }.toDF("qa", "qb")
    for (round <- 1 to 5) {
      val index = Seq.fill(40 + rnd.nextInt(40))(
        (key(), 1 + rnd.nextInt(4), 1 + rnd.nextInt(3), 1L + rnd.nextInt(5)))
        .toDF("key", "table_id", "column_id", "row_id")
      val query = randomQuery(rnd)

      val ref = JoinSearch.searchTablesWindowed(index, query, cols)
        .as[(Int, Long)].collect().toSeq
      val got = Map(
        "anchored" -> JoinSearch.searchTables(index, query, cols),
        "groupBy" -> JoinSearch.searchTablesViaGroupBy(index, query, cols),
        "rowWise" -> JoinSearch.searchTablesRowWise(index, query, cols),
        "cellWise" -> JoinSearch.searchTablesCellWise(index, query, cols),
        "shuffled" -> JoinSearch.searchTablesShuffled(index, query, cols),
        // random tiny alphabets maximize sketch-bucket sharing: the
        // prune must stay conservative under arbitrary hash geometry
        "pruned" -> JoinSearch.searchTables(index, query, cols, narrow =
          JoinSearch.Narrow.Sketch(JoinSearch.tableKeySketchCached(index))))
        .map { case (n, df) => n -> df.as[(Int, Long)].collect().toSeq }
      got.foreach { case (name, scores) =>
        assert(scores == ref, s"round $round: $name diverged from windowed")
      }
      assertBatchMembers(index, Seq(query, randomQuery(new Random(4200 + round))),
        cols, round)
    }
  }

  test("all seven strategies agree on random 3-column queries (seed 11)") {
    val cols3 = Seq("qa", "qb", "qc")
    val rnd = new Random(11)
    val alphabet = Vector("a", "b", "c", "d", "e f")
    def key(r: Random = rnd) = alphabet(r.nextInt(alphabet.size))
    def randomQuery(r: Random) = Seq.fill(3 + r.nextInt(3)) {
      val a = if (r.nextInt(10) == 0) null else key(r)
      (a, if (r.nextInt(3) == 0) a else key(r), key(r))
    }.toDF("qa", "qb", "qc")
    for (round <- 1 to 3) {
      val index = Seq.fill(50 + rnd.nextInt(40))(
        (key(), 1 + rnd.nextInt(4), 1 + rnd.nextInt(4), 1L + rnd.nextInt(4)))
        .toDF("key", "table_id", "column_id", "row_id")
      val query = randomQuery(rnd)
      val ref = JoinSearch.searchTablesWindowed(index, query, cols3)
        .as[(Int, Long)].collect().toSeq
      val got = Map(
        "anchored" -> JoinSearch.searchTables(index, query, cols3),
        "groupBy" -> JoinSearch.searchTablesViaGroupBy(index, query, cols3),
        "rowWise" -> JoinSearch.searchTablesRowWise(index, query, cols3),
        "cellWise" -> JoinSearch.searchTablesCellWise(index, query, cols3),
        "shuffled" -> JoinSearch.searchTablesShuffled(index, query, cols3),
        "pruned" -> JoinSearch.searchTables(index, query, cols3, narrow =
          JoinSearch.Narrow.Sketch(JoinSearch.tableKeySketchCached(index))))
        .map { case (n, df) => n -> df.as[(Int, Long)].collect().toSeq }
      got.foreach { case (name, scores) =>
        assert(scores == ref, s"round $round: $name diverged from windowed at N=3")
      }
      assertBatchMembers(index, Seq(query, randomQuery(new Random(1100 + round))),
        cols3, round)
    }
  }

  test("all seven strategies agree on random 5-column queries (seed 5)") {
    // round-15 verdict #7: the conjunction arithmetic (count filters,
    // rank top-N, anchor choice) is where an N>3 off-by-one would
    // hide; N=5 with a tiny alphabet maximizes cross-column key
    // collisions and duplicate-key query rows.
    val cols5 = Seq("qa", "qb", "qc", "qd", "qe")
    val rnd = new Random(5)
    val alphabet = Vector("a", "b", "c", "d", "e f")
    def key(r: Random = rnd) = alphabet(r.nextInt(alphabet.size))
    def randomQuery(r: Random) = Seq.fill(3 + r.nextInt(3)) {
      val a = if (r.nextInt(10) == 0) null else key(r)
      // duplicate-key rows across several column pairs
      (a, if (r.nextInt(3) == 0) a else key(r), key(r),
        if (r.nextInt(4) == 0) a else key(r), key(r))
    }.toDF("qa", "qb", "qc", "qd", "qe")
    for (round <- 1 to 3) {
      val index = Seq.fill(60 + rnd.nextInt(40))(
        (key(), 1 + rnd.nextInt(4), 1 + rnd.nextInt(6), 1L + rnd.nextInt(4)))
        .toDF("key", "table_id", "column_id", "row_id")
      val query = randomQuery(rnd)
      val ref = JoinSearch.searchTablesWindowed(index, query, cols5)
        .as[(Int, Long)].collect().toSeq
      val got = Map(
        "anchored" -> JoinSearch.searchTables(index, query, cols5),
        "groupBy" -> JoinSearch.searchTablesViaGroupBy(index, query, cols5),
        "rowWise" -> JoinSearch.searchTablesRowWise(index, query, cols5),
        "cellWise" -> JoinSearch.searchTablesCellWise(index, query, cols5),
        "shuffled" -> JoinSearch.searchTablesShuffled(index, query, cols5),
        "pruned" -> JoinSearch.searchTables(index, query, cols5, narrow =
          JoinSearch.Narrow.Sketch(JoinSearch.tableKeySketchCached(index))))
        .map { case (n, df) => n -> df.as[(Int, Long)].collect().toSeq }
      got.foreach { case (name, scores) =>
        assert(scores == ref, s"round $round: $name diverged from windowed at N=5")
      }
      assertBatchMembers(index, Seq(query, randomQuery(new Random(500 + round))),
        cols5, round)
    }
  }

  test("anchor statistic choice is result-invariant (supplied stats vs probe-derived)") {
    val rnd = new Random(7)
    val alphabet = Vector("a", "b", "c", "d")
    def key() = alphabet(rnd.nextInt(alphabet.size))
    for (round <- 1 to 3) {
      val index = Seq.fill(30 + rnd.nextInt(30))(
        (key(), 1 + rnd.nextInt(3), 1 + rnd.nextInt(2), 1L + rnd.nextInt(4)))
        .toDF("key", "table_id", "column_id", "row_id")
      val query = Seq.fill(4)((key(), key())).toDF("qa", "qb")
      val m = JoinSearch.mappings(JoinSearch.prepareInput(query, cols), cols)
      val probed = JoinSearch.probe(index, m)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.as[(String, Int, Int, Long, String)].collect()
          .groupBy(identity).view.mapValues(_.size).toMap
      val selfContained = rows(JoinSearch.conjunctionAnchored(probed, m, cols.size))
      val withStats = rows(JoinSearch.conjunctionAnchored(probed, m, cols.size,
        Some(JoinSearch.indexKeyStats(index))))
      assert(selfContained == withStats, s"round $round diverged")
    }
  }
}
