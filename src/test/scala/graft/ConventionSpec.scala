package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Tripwire for the TOTALITY CONVENTION
  * ([[graft.functions.Tokenize.windowedSql]] scaladoc): partial
  * array/map functions under a Generate crash on rows an upstream
  * `.where` guard would have dropped, because Catalyst's
  * InferFiltersFromGenerate copies the inlined expression below the
  * guard (reproduced at sf0.1, round 10: the winnow crash). Every
  * raw `element_at(` and `sequence(` in main source is therefore
  * pinned per file; adding one forces a conscious totality audit
  * (is the index/bound safe by construction on EVERY row, or must it
  * be `try_element_at` / [[graft.functions.Tokenize.windowedSql]]?).
  */
class ConventionSpec extends AnyFunSuite {

  private val mainSrc = Paths.get("src/main/scala")

  /** Audited sites, file -> (raw element_at count, sequence count).
    * Rationale per file:
    *  - Similarity.scala: sign-band indexing of the fixed-64-dim
    *    quantized vector — constant in-range indices; a short vector
    *    is a schema-contract violation that SHOULD fail loudly.
    *  - Multimodal.scala: 3-element modality array indexed by pmod of
    *    `doc_id % 3 + 1`; dHash luma indexing with constant bounds
    *    over the codec's fixed 72-value grid; `sequence(0, 31)`
    *    constant ascending.
    *  - TextAnalysis.scala: phrase-array indexing bounded by the
    *    enclosing `forall(sequence(0, size(parr)-1))` (parr is a
    *    constant non-empty literal array, never under a Generate);
    *    pairOf's element_at above a size()=2 filter in the SAME
    *    projection chain (no generator, no inferred filter); the
    *    winnow inner window `sequence(j, j+w-1)` constant-width
    *    ascending inside the CASE-guarded windowedSql branch.
    *  - DedupStream.scala: shingle window guarded by when(size>=3)
    *    AT the expression (not a separate `.where`).
    *  - Dedup.scala: shinglesOf when-guarded at the expression;
    *    spanRemoved's `sequence(start, start+n-1)` constant-width
    *    ascending with start >= 1 by construction.
    *  - CorpusPrep.scala: `sequence(0, epochs-1)` with epochs
    *    validated > 0 (documented footgun at epochsOf); `sequence(0,
    *    n_chunks-1)` with n_chunks >= 1 by construction.
    *  - Tokenize.scala: the windowedSql helper itself.
    */
  private val allow: Map[String, (Int, Int)] = Map(
    // Similarity's ADC site (round 18, 2 -> 3): the integer-indexed
    // LUT lookup is a DOUBLE element_at —
    // `element_at(element_at(lut, i+1), c+1)` over array<array<long>>
    // indexed [subspace][dense rank] — total by construction: codes
    // and LUT rows are remapped through the SAME per-subspace book
    // ranking (pqDenseIds), so i < M and c < numCents always; an
    // impossible miss fails the typed decode loudly
    // (DegenerateLakeSpec pins the sparse/duplicate/negative id
    // domains).
    "operators/Similarity.scala" -> (3, 0),
    "operators/Multimodal.scala" -> (4, 1),
    "operators/TextAnalysis.scala" -> (4, 3),
    "operators/CorpusPrep.scala" -> (0, 2),
    "operators/Dedup.scala" -> (0, 2),
    "streaming/DedupStream.scala" -> (3, 1),
    "functions/Tokenize.scala" -> (0, 1))

  private def codeLines(p: Path): Seq[String] =
    Files.readAllLines(p).asScala.toSeq
      .map(_.trim)
      .filterNot(l => l.startsWith("//") || l.startsWith("*") || l.startsWith("/*"))

  private def countIn(lines: Seq[String], re: scala.util.matching.Regex): Int =
    lines.map(l => re.findAllMatchIn(l).size).sum

  /** Non-OUTER generates over an ATTRIBUTE child, file -> count.
    * NOTE this grep matches only the `explode(col(` spelling — the
    * spelling-proof companion is [[GenerateAuditSpec]], which pins
    * the same convention over the ANALYZED PLANS of every registered
    * query (an `explode($"x")` or selectExpr-explode site is caught
    * there even though this grep cannot see it).
    * This is the shape InferFiltersFromGenerate fires on: it infers
    * `size(x) > 0` and predicate pushdown SUBSTITUTES the column's
    * defining expression into the filter below the projection — the
    * round-10 winnow crash (partial expressions evaluated on guarded
    * rows) and the round-11 cost class (the packed BPE segmenter and
    * split(clean(text)) each evaluated twice per row) both came from
    * exactly this. A site is safe when the attribute comes from an
    * AGGREGATE (pushdown cannot substitute through it: JoinSearch's
    * kcs/req, TextAnalysis's plist) or from a cached/scanned relation
    * (nothing to recompute: IndexStream's bits, Similarity's
    * persisted q). Anything else should be an outer generate with an
    * explicit null-row filter — see the Bpe.tokenIdsOfSegments note.
    */
  private val allowAttrGen: Map[String, Int] = Map(
    "streaming/IndexStream.scala" -> 1,
    "operators/Similarity.scala" -> 2,
    "operators/TextAnalysis.scala" -> 2,
    // 2 -> 3 (round 17): reduce()'s one-exchange rewrite explodes the
    // aggregate-derived kcs — same safe class as conjunctionAnchored's
    // two audited sites (pushdown cannot substitute below the
    // aggregate; the filter-dedup lambda is index-guarded total).
    // 3 -> 7 (round-18 second pass): reduceShared and the row-wise
    // floor each re-explode kcs over the CACHED key-set relation
    // (nothing to substitute into — the attribute is served from
    // storage), and batchScores' grouped pass explodes kcs (same
    // cached relation) and req (aggregate output, substitution cannot
    // cross the aggregate boundary) — the same two audited shapes the
    // per-branch form carried.
    // 7 -> 5: batchScores is deleted (a batch is a union of single
    // searches), taking its kcs and req explodes with it.
    // 5 -> 4: reduceShared is deleted with the `rowkeys:` persist;
    // reduce() is the key sets floored and exploded, so its one kcs
    // explode serves every staged reader.
    "operators/JoinSearch.scala" -> 4)

  test("non-outer attribute-child generates match the audited allowlist") {
    val attrGen = "(?<![A-Za-z_])(?:pos)?explode\\(col\\(".r
    val found = Files.walk(mainSrc).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map { p =>
        mainSrc.relativize(p).toString.replace('\\', '/').stripPrefix("graft/") ->
          countIn(codeLines(p), attrGen)
      }
      .filter(_._2 > 0).toMap
    assert(found === allowAttrGen,
      "\nnon-outer explode/posexplode over an attribute changed — audit the new " +
        "site against BOTH the inferred-filter crash class and the pushdown " +
        "substitution cost class (see allowAttrGen scaladoc), then re-pin.\nFound: " +
        found.toSeq.sortBy(_._1).mkString("\n  ", "\n  ", "\n"))
  }

  test("every lineage cut in main source goes through DfCache.cut") {
    val cutCall = "(?<![A-Za-z_])(?:localCheckpoint|checkpoint)\\(|Bridge\\.detach\\(".r
    val found = Files.walk(mainSrc).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        !p.endsWith(Paths.get("graft/sources/DfCache.scala")))
      .map(p => mainSrc.relativize(p).toString -> countIn(codeLines(p), cutCall))
      .filter(_._2 > 0).toMap
    assert(found.isEmpty,
      "\nlineage cuts outside DfCache.cut: a cut frame's plan scans an RDD " +
        "that names no file, so the session cache cannot derive the sources " +
        "behind it, and rewriting those sources would not drop the entries " +
        "built over the cut. Route each through DfCache.cut, which records " +
        "the pre-cut frame's sources.\nFound: " +
        found.toSeq.sortBy(_._1).mkString("\n  ", "\n  ", "\n"))
  }

  test("README query counts equal the registry (no hand-maintained doc rot)") {
    // round-11 flagged 181-vs-182, round 12 fixed it by hand and then
    // re-rotted to 182-vs-185 (round-12 verdict "what's wrong" #1) —
    // the count is now ASSERTED against SparkEntry.queries.size, so a
    // registry change without the README edit fails the gate instead
    // of shipping a third stale round.
    val n = SparkEntry.queries.size
    val readme = Files.readString(Paths.get("README.md"))
    val claims = """(\d+)/(\d+)\s+oracle-checked""".r
      .findAllMatchIn(readme)
      .map(m => (m.group(1).toInt, m.group(2).toInt)).toSeq
    assert(claims.nonEmpty, "README no longer states the oracle-checked count")
    assert(claims.forall(c => c == (n, n)),
      s"README oracle-checked counts $claims != registry size $n — update README.md")
  }

  test("raw element_at / sequence sites in main source match the audited allowlist") {
    val rawElementAt = "(?<![A-Za-z_])element_at\\(".r // try_element_at excluded
    val rawSequence = "(?<![A-Za-z_.])sequence\\(".r
    val found = Files.walk(mainSrc).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map { p =>
        val lines = codeLines(p)
        mainSrc.relativize(p).toString.replace('\\', '/') ->
          (countIn(lines, rawElementAt), countIn(lines, rawSequence))
      }
      .filter { case (_, (e, s)) => e > 0 || s > 0 }
      .toMap
    val foundScoped = found.map { case (k, v) => k.stripPrefix("graft/") -> v }
    assert(foundScoped === allow,
      "\nraw partial-function sites changed — audit each new site for totality " +
        "(see Tokenize.windowedSql scaladoc) and re-pin.\nFound: " +
        foundScoped.toSeq.sortBy(_._1).mkString("\n  ", "\n  ", "\n"))
  }
}
