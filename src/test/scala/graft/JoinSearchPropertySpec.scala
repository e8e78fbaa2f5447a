package graft

import scala.util.Random

import graft.operators.JoinSearch

/** Randomized cross-strategy equivalence: the seven physical
  * strategies (anchored default, windowed, groupBy-variant, row-wise,
  * cell-wise, hint-free shuffled, sketch-pruned) are independent
  * plans for one semantics — on any input
  * they must produce identical ranked scores. Random corpora use a
  * tiny key alphabet to force hot keys, multi-column collisions,
  * duplicate query rows, duplicate-key query rows, and nulls — the
  * edge geometry hand fixtures miss. Fixed seed: failures reproduce.
  */
class JoinSearchPropertySpec extends SparkTestBase {
  import spark.implicits._

  private val cols = Seq("qa", "qb")

  test("all seven strategies agree on random hot-key corpora (seed 42)") {
    val rnd = new Random(42)
    val alphabet = Vector("a", "b", "c", "d", "e f", "g")
    def key() = alphabet(rnd.nextInt(alphabet.size))
    for (round <- 1 to 5) {
      val index = Seq.fill(40 + rnd.nextInt(40))(
        (key(), 1 + rnd.nextInt(4), 1 + rnd.nextInt(3), 1L + rnd.nextInt(5)))
        .toDF("key", "table_id", "column_id", "row_id")
      val query = Seq.fill(3 + rnd.nextInt(4)) {
        val a = if (rnd.nextInt(10) == 0) null else key()
        // occasional duplicate-key rows (qa == qb) and repeated rows
        val b = if (rnd.nextInt(4) == 0) a else key()
        (a, b)
      }.toDF("qa", "qb")

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
    }
  }

  test("all seven strategies agree on random 3-column queries (seed 11)") {
    val cols3 = Seq("qa", "qb", "qc")
    val rnd = new Random(11)
    val alphabet = Vector("a", "b", "c", "d", "e f")
    def key() = alphabet(rnd.nextInt(alphabet.size))
    for (round <- 1 to 3) {
      val index = Seq.fill(50 + rnd.nextInt(40))(
        (key(), 1 + rnd.nextInt(4), 1 + rnd.nextInt(4), 1L + rnd.nextInt(4)))
        .toDF("key", "table_id", "column_id", "row_id")
      val query = Seq.fill(3 + rnd.nextInt(3)) {
        val a = if (rnd.nextInt(10) == 0) null else key()
        (a, if (rnd.nextInt(3) == 0) a else key(), key())
      }.toDF("qa", "qb", "qc")
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
    def key() = alphabet(rnd.nextInt(alphabet.size))
    for (round <- 1 to 3) {
      val index = Seq.fill(60 + rnd.nextInt(40))(
        (key(), 1 + rnd.nextInt(4), 1 + rnd.nextInt(6), 1L + rnd.nextInt(4)))
        .toDF("key", "table_id", "column_id", "row_id")
      val query = Seq.fill(3 + rnd.nextInt(3)) {
        val a = if (rnd.nextInt(10) == 0) null else key()
        // duplicate-key rows across several column pairs
        (a, if (rnd.nextInt(3) == 0) a else key(), key(),
          if (rnd.nextInt(4) == 0) a else key(), key())
      }.toDF("qa", "qb", "qc", "qd", "qe")
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
