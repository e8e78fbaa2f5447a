package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.operators.Dedup
import graft.sources.DfCache

/** Exactness of the exact-collapse clustering ([[Dedup.clustersCollapsed]],
  * the durable [[Dedup.clusters]] builder since round 15) against the
  * uncollapsed label-propagation pipeline, on the adversarial corpus
  * shapes the collapse could get wrong:
  *
  *  - clone fleets with NO external near-dup edges (cliques must come
  *    from group expansion alone — the rep pair graph is empty);
  *  - clone groups BRIDGED by a near-dup-but-not-exact edge (the
  *    cross-group complete-bipartite expansion);
  *  - exact-equal docs whose texts are too short to shingle (the
  *    baseline never pairs them — the collapse must NOT clique them);
  *  - degenerate multi-row doc_ids (the collapse key must hash the
  *    SET of row texts: a doc's shingle set is the union over its
  *    rows, so {A,B} twice is a clone pair while {A} is not);
  *  - the real sf0.001 corpus, including equality with the
  *    pre-round-15 builder formulation (star over uncollapsed pairs).
  *
  * The structural claim — clones are never shingled — is pinned by
  * reading back the representatives-only lineage the collapse
  * persisted: its doc_id set is the representative set, independent
  * of clone multiplicity.
  */
class DedupCollapseSpec extends SparkTestBase {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = true),
    StructField("lang", StringType, nullable = true),
    StructField("source", StringType, nullable = true),
    StructField("n_chars", LongType, nullable = true)))

  private def corpus(rows: Seq[(Long, String)]): String = {
    val d = java.nio.file.Files.createTempDirectory("graft-collapse").toString
    val rs = rows.map { case (id, t) =>
      Row(id, t, "en", "s0", Option(t).map(_.length.toLong).getOrElse(0L))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rs, 4), schema)
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  private def both(d: String): (Seq[(Long, Long, Long, Long)], Seq[(Long, Long, Long, Long)]) = {
    val c = Dedup.clustersCollapsed(spark, d)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val p = Dedup.clustersLabelProp(spark, d)
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    (c, p)
  }

  // 12 words -> 10 shingles; the bridge variant appends one word so
  // Jaccard = 10/11 and the minhash bands overwhelmingly collide.
  private val baseText =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
  private val bridgeText = baseText + " nu"

  test("clone fleet with no external edges: clique from expansion alone") {
    val d = corpus(
      (0L until 50L).map(i => i -> baseText) ++
        Seq(900L -> "completely different words entirely here now today",
          901L -> "another unrelated document body with its own tokens"))
    val (c, p) = both(d)
    assert(c == p, s"collapsed != labelprop:\n$c\nvs\n$p")
    assert(c.map(_._2).distinct == Seq(0L) && c.size == 50)
    assert(c.filter(_._4 == 1L).map(_._1) == Seq(0L))
    // structural: the persisted reps-only shingle lineage holds the 3
    // representatives (one per distinct text), not the 52 docs.
    val repIds = DfCache.getOrPersist(spark, s"doc_shingles_reps:$d")(
        sys.error("lineage was not persisted by the collapse"))
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(repIds == Set(0L, 900L, 901L))
  }

  test("two clone groups bridged by a near-dup edge merge into one cluster") {
    val d = corpus(
      (0L until 10L).map(i => i -> baseText) ++
        (100L until 110L).map(i => i -> bridgeText))
    val (c, p) = both(d)
    assert(c == p, s"collapsed != labelprop:\n$c\nvs\n$p")
    assert(c.size == 20 && c.map(_._2).distinct == Seq(0L),
      s"bridge did not merge: $c")
  }

  test("transitive merge through a singleton bridge doc") {
    // group A (x5, 10 shingles) ~ C (superset, +5) ~ group B (x5,
    // superset of C, +6 more): A~C = 10/15, C~B = 15/21, but
    // A~B = 10/21 < 0.5 — A and B can only merge THROUGH C's
    // component, so the assertion exercises transitive expansion.
    val textA = baseText
    val textC = baseText + " nu xi omicron pi rho"
    val textB = textC + " sigma tau upsilon phi chi psi"
    val d = corpus(
      (0L until 5L).map(i => i -> textA) ++
        Seq(50L -> textC) ++
        (100L until 105L).map(i => i -> textB))
    val (c, p) = both(d)
    assert(c == p, s"collapsed != labelprop:\n$c\nvs\n$p")
    assert(c.size == 11 && c.map(_._2).distinct == Seq(0L))
  }

  test("exact-equal short docs never cluster (no shingles, no pairs)") {
    val d = corpus(Seq(1L -> "hi there", 2L -> "hi there", 3L -> "hi there",
      4L -> "ok", 5L -> "ok"))
    val (c, p) = both(d)
    assert(p.isEmpty, s"labelprop baseline unexpectedly paired: $p")
    assert(c.isEmpty, s"collapse cliqued unshingleable docs: $c")
  }

  test("degenerate multi-row doc_ids collapse by text SET, not by any one row") {
    val extra = "omicron pi rho sigma tau upsilon phi chi psi omega aleph bet"
    // docs 1 and 2 each have TWO rows {base, extra}: equal text sets,
    // equal shingle unions (20 shingles) -> one group, a clone pair.
    // doc 3 carries {extra + one word} (11 shingles, 10 shared):
    // Jaccard vs the union is 10/21 < 0.5, so it must NOT join.
    val d = corpus(Seq(
      1L -> baseText, 1L -> extra,
      2L -> baseText, 2L -> extra,
      3L -> (extra + " gimel")))
    val (c, p) = both(d)
    assert(c == p, s"collapsed != labelprop:\n$c\nvs\n$p")
    assert(c == Seq((1L, 1L, 2L, 1L), (2L, 1L, 2L, 0L)), s"got $c")
  }

  test("real corpus: collapsed == labelprop == the pre-round-15 builder form") {
    val d = sf0001
    val c = Dedup.clustersCollapsed(spark, d)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val p = Dedup.clustersLabelProp(spark, d)
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    val old = Dedup.clustersFromPairsStar(
        Dedup.minhashLsh(spark, d).select("doc_x", "doc_y"))
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(c == p, "collapsed != labelprop on sf0.001")
    assert(c == old, "collapsed != pre-round-15 star-over-pairs build")
    assert(c.nonEmpty, "fixture corpus has near-dup clusters; got none")
  }
}
