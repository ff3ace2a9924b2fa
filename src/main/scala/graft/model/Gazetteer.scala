package graft.model

/** Deterministic gazetteer: the broadcast dimension of the mention-detection
  * stage (FIXTURES.md §3) and the seed for planted entities in the synthetic
  * `pages` corpus.
  *
  * Shapes mirror the reference's embedded alias/provision lists
  * (src/methods/OllamaEntityCleaner.py:245-389) — the *cases* are preserved
  * (accent pairs, token-subset pairs, typo pairs within Levenshtein ratio
  * > 0.79, word-overlap pairs >= 0.65, negatives below both thresholds,
  * prefix-nested surfaces for overlap resolution) but every surface here is
  * invented; nothing is copied from the reference corpus.
  */
object Gazetteer {

  /** Person alias groups (group id -> surfaces). Cases covered:
    *  g0 accent pair, g1 word-overlap 2/3, g2 token-subset (and contiguous
    *  prefix — exercises leftmost-longest overlap resolution), g3
    *  accent+tilde pair, g4 typo pair (Levenshtein path, overlap below
    *  threshold), g5 case-only pair, g6 word-overlap 2/3, g7-g11 singletons
    *  with g8/g9 a designed NEGATIVE pair (no shared token, low ratio).
    */
  val personGroups: Vector[Vector[String]] = Vector(
    Vector("Maria Elena Vasquez", "María Elena Vásquez"),
    Vector("Jonathan Petrov Smith", "Jonathan Smith"),
    Vector("Carlos Mendez Rivera", "Carlos Mendez"),
    Vector("Ana Lucia Montano", "Ana Lucía Montaño"),
    Vector("Elisabeth Mwangi", "Elisabet Mwangi"),
    Vector("Fatima Al Rashid", "Fatima al Rashid"),
    Vector("Mei Lin Zhang", "Mei Zhang"),
    Vector("Roberto Kwan"),
    Vector("David Okafor"),
    Vector("Diana Okonkwo"),
    Vector("Henrik Johansson"),
    Vector("Oluwaseun Adeyemi")
  )

  val persons: Vector[String] = personGroups.flatten // 19 surfaces

  val orgs: Vector[String] = Vector(
    "Global Rights Forum", "Coastal Defense Union", "Miners Aid Society",
    "Open Data Collective", "Harbor Trade Council", "Northern Relief Board",
    "Island Health Trust", "Valley Press Group"
  )

  val gpes: Vector[String] = Vector(
    "Costa Verde", "Puerto Esmeralda", "Nordhavn", "Baia Dorada",
    "Monte Claro", "Isla Timon", "Rio Plateado", "Villa Serena"
  )

  val laws: Vector[String] = Vector(
    "Maritime Safety Act", "Civil Protection Law", "Labor Standards Code",
    "Environmental Charter", "Data Privacy Statute", "Coastal Fisheries Act",
    "Public Health Ordinance", "Trade Practices Law"
  )

  /** "Article 12" is a strict prefix of "Article 128" — planted deliberately
    * so the Aho-Corasick scan emits nested spans and leftmost-longest
    * resolution (SURVEY §2.6 O3) is exercised on real input.
    */
  val provisions: Vector[String] = Vector(
    "Article 12", "Article 45", "Section 3", "Article 7",
    "Section 19", "Article 128", "Section 62", "Article 9"
  )

  /** Abbreviated person variants — exercised by the C5 abbreviation-edge
    * heuristic (check_heuristics.fix_abbreviations, SURVEY §2.7). Kept OUT of
    * [[persons]] so the planted-corpus index arithmetic is untouched; these
    * join the similarity graph only through [[graft.canon.Canon.abbrevEdges]].
    */
  val abbrevPersons: Vector[String] = Vector("H. Johansson", "M. E. Vasquez")

  /** All (surface, label) rows — the broadcast dimension table. */
  val all: Vector[(String, String)] =
    persons.map(_ -> "PERSON") ++ orgs.map(_ -> "ORG") ++
    gpes.map(_ -> "GPE") ++ laws.map(_ -> "LAW") ++
    provisions.map(_ -> "PROVISION")

  /** Golden alias groups (group_id, surface) for canonicalization tests. */
  val goldenAliasGroups: Vector[(Int, String)] =
    personGroups.zipWithIndex.flatMap { case (g, i) => g.map(i -> _) }

  /** Deterministic synthetic PERSON surfaces at arbitrary dimension size —
    * the 100k-surface evidence corpus for the broadcast-automaton scale
    * claims (GazetteerScaleSpec, `graft.Harness gazetteer`). Each index
    * maps to a unique two-word syllable name ("Bacedi Fogumu"); distinct for
    * n ≤ 64M, disjoint from the real gazetteer (no real surface is a
    * syllable-product word), and shaped like the production dimension
    * (≈13 chars, two tokens).
    */
  def syntheticSurfaces(n: Int): Vector[(String, String)] = {
    val syl = Vector("ba", "ce", "di", "fo", "gu", "ha", "je", "ki", "lo",
      "mu", "na", "pe", "qi", "ro", "su", "ta", "ve", "wi", "xo", "yu")
    def word(i: Int): String = {
      // 3 syllables = 20^3 = 8000 distinct words; leading capital
      val s = syl(i % 20) + syl(i / 20 % 20) + syl(i / 400 % 20)
      s.substring(0, 1).toUpperCase(java.util.Locale.ROOT) + s.substring(1)
    }
    require(n <= 8000 * 8000, s"syntheticSurfaces supports n <= 64M, got $n")
    (0 until n).map(i => (word(i % 8000) + " " + word(i / 8000), "PERSON")).toVector
  }
}
