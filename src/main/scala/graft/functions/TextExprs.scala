package graft.functions

/** Paired Spark-SQL / DuckDB-SQL expression generators for the text &
  * dedup operators. Each pair is semantically identical by
  * construction — hashes are a plain polynomial char fold (mod p) so
  * the DuckDB oracle can reproduce them exactly; nothing here depends
  * on an engine-private hash. In a production deployment the hash is
  * swappable for `xxhash64` (codegen'd, faster) via the `hashExpr`
  * parameter of the [[graft.operators.Sampling]] operators.
  *
  * Dialect gotchas encoded here (probed empirically):
  *   - Spark array indexing is 0-based, DuckDB 1-based;
  *   - DuckDB `list_reduce` has no init element (first element seeds
  *     the fold) — identical to Spark's `aggregate` with 0-init for
  *     our fold shapes because `f(0, x1) = x1` for both `(acc*31+x)%p`
  *     and `acc+x`;
  *   - DuckDB INTEGER arithmetic errors on overflow → fold in BIGINT;
  *   - `split('','')` is `[]` in Spark but `['']` in DuckDB — both
  *     fold to 0 because `ascii('') = 0`;
  *   - `list_distinct`/`array_distinct` order differs between engines
  *     → distinct lists are only consumed by order-independent
  *     aggregates (min/sum/count).
  */
object TextExprs {

  /** Modulus for all polynomial hashes (fits products in BIGINT). */
  val P = 1000000007L

  /** MinHash parameterization: k independent permutations
    * h_i(x) = (a_i * x + b_i) mod P with fixed multipliers derived
    * from Knuth's multiplicative constant — deterministic, embedded
    * identically in both dialects.
    */
  val NumMinhash = 32
  val Bands = 8
  val RowsPerBand: Int = NumMinhash / Bands
  def minhashA(i: Int): Long = ((i + 1) * 2654435761L) % P
  def minhashB(i: Int): Long = ((i + 1) * 40503L * 65537L) % P

  /** Number of SimHash bits (hash values are < P < 2^30). */
  val SimhashBits = 30

  // ---------- char-fold polynomial hash of a string expression ----------
  /** Spark side uses the codegen'd [[PolyHash]] expression — callers
    * must have called `PolyHash.register(spark)`. Same values as the
    * DuckDB fold below (code-point fold, mod P).
    */
  def charHashSpark(s: String): String = s"poly_hash($s)"
  def charHashDuck(s: String): String =
    s"CASE WHEN length($s) = 0 THEN 0 ELSE list_reduce(list_transform(string_split($s, ''), c -> ascii(c)::BIGINT), (acc, c) -> (acc * 31 + c) % $P) END"

  // ---------- whitespace tokenization (empty-safe) ----------
  def wordsSpark(s: String): String = s"split(trim($s), '\\\\s+')"
  def wordsDuck(s: String): String = s"string_split_regex(trim($s), '\\s+')"
  def tokenCountSpark(s: String): String =
    s"CASE WHEN length(trim($s)) = 0 THEN 0 ELSE size(${wordsSpark(s)}) END"
  def tokenCountDuck(s: String): String =
    s"CASE WHEN length(trim($s)) = 0 THEN 0 ELSE len(${wordsDuck(s)}) END"

  /** Per-word hash array of a words-array column. */
  def wordHashArraySpark(w: String): String =
    s"transform($w, t -> ${charHashSpark("t")})"
  def wordHashArrayDuck(w: String): String =
    s"list_transform($w, t -> ${charHashDuck("t")})"

  /** Distinct shingle (word n-gram) hash set from a word-hash array:
    * each shingle hash is the polynomial combination of n consecutive
    * word hashes — each word is hashed ONCE, not once per shingle it
    * appears in (3× cheaper at n=3 than hashing shingle strings).
    * Order-independent consumers only (min/sum/count/join) — the two
    * engines' distinct() orderings differ. Rows with fewer than n
    * words yield the empty list, matching the DuckDB twin (r13: the
    * guard moved into the expression; callers no longer need the
    * pre-filter, though the oracled queries keep theirs).
    */
  def shingleHashesSpark(w: String, n: Int): String = {
    val wh = wordHashArraySpark(w)
    shingleHashesFromWordHashesSpark(wh, n)
  }
  def shingleHashesFromWordHashesSpark(wh: String, n: Int): String = {
    val combine = (1 until n).foldLeft(s"$wh[i]")((acc, j) => s"(($acc) * 31 + $wh[i + $j]) % $P")
    // guarded for size < n: Spark's sequence(0, negative) runs
    // BACKWARDS (emitting junk windows with null element accesses)
    // where the DuckDB twin's range() is empty — the CASE pins both
    // engines to the empty list (ADVICE r12)
    s"CASE WHEN size($wh) < $n THEN CAST(array() AS ARRAY<BIGINT>) " +
      s"ELSE array_distinct(transform(sequence(0, size($wh) - $n), i -> $combine)) END"
  }
  /** DuckDB twin — takes a *materialized* word-hash list column (use a
    * CTE stage for the word hashes first, mirroring the Spark persist).
    */
  def shingleHashesFromWordHashesDuck(wh: String, n: Int): String = {
    val combine = (1 until n).foldLeft(s"$wh[i]")((acc, j) => s"(($acc) * 31 + $wh[i + $j]) % $P")
    s"list_distinct(list_transform(range(1, len($wh) - ${n - 2}), i -> $combine))"
  }

  /** POSITIONAL shingle hashes (no distinct, order = token position):
    * element at position p (0-based Spark / 1-based DuckDB) is the
    * fold of word hashes p..p+n-1 under multiplier `mult` — the
    * repeated-span detector joins on these, so position must survive.
    * Two folds of the same window under different multipliers give a
    * ~60-bit composite key (the span join uses (31, 131)); both are
    * plain integer arithmetic mod P, so the DuckDB twin reproduces
    * collisions bit-for-bit too.
    */
  def positionalShingleHashesSpark(wh: String, n: Int, mult: Long): String = {
    val combine =
      (1 until n).foldLeft(s"$wh[i]")((acc, j) => s"(($acc) * $mult + $wh[i + $j]) % $P")
    // same size-guard as shingleHashesFromWordHashesSpark: the DuckDB
    // twin's range() is empty-safe, Spark's sequence() is not
    s"CASE WHEN size($wh) < $n THEN CAST(array() AS ARRAY<BIGINT>) " +
      s"ELSE transform(sequence(0, size($wh) - $n), i -> $combine) END"
  }
  def positionalShingleHashesDuck(wh: String, n: Int, mult: Long): String = {
    val combine =
      (1 until n).foldLeft(s"$wh[i]")((acc, j) => s"(($acc) * $mult + $wh[i + $j]) % $P")
    s"list_transform(range(1, len($wh) - ${n - 2}), i -> $combine)"
  }

  /** MinHash signature (array of NumMinhash BIGINTs) over a
    * hash-set-array column `hs`. Spark side uses the codegen'd
    * [[MinHashSig]] kernel — callers must have called
    * `MinHashSig.register(spark)`; values identical to the k-pass
    * `array_min(transform(...))` formulation and the DuckDB twin.
    */
  def minhashSigSpark(hs: String): String = s"minhash_sig($hs)"
  def minhashSigDuck(hs: String): String = {
    val mins = (0 until NumMinhash)
      .map(i => s"list_aggregate(list_transform($hs, h -> (${minhashA(i)} * h + ${minhashB(i)}) % $P), 'min')")
      .mkString(", ")
    s"[$mins]"
  }

  /** LSH band keys: fold each band of `rowsPerBand` signature values
    * into one BIGINT key. `sig` is the signature array column.
    * Returns one (band, key) expression per band.
    *
    * The (bands, rowsPerBand) pair is THE recall/cost dial of
    * MinHash LSH: match probability for a pair with Jaccard j is
    * 1−(1−j^rowsPerBand)^bands, so more, narrower bands catch
    * fainter similarity at the price of more candidate pairs to
    * verify. Bands are laid out contiguously over the signature, so
    * any banding whose width divides a coarser one's yields a
    * SUPERSET of its candidates (a w-wide agreeing band contains
    * agreeing w/2-wide halves) — pinned in DedupSimilaritySpec.
    * Defaults ([[Bands]]×[[RowsPerBand]]) are what the oracled
    * queries use.
    */
  def bandKeysSpark(
      sig: String,
      bands: Int = Bands,
      rowsPerBand: Int = RowsPerBand): Seq[String] = {
    requireBanding(bands, rowsPerBand)
    (0 until bands).map { b =>
      val idx = (0 until rowsPerBand).map(r => s"$sig[${b * rowsPerBand + r}]")
      idx.tail.foldLeft(idx.head)((acc, m) => s"(($acc) * 31 + $m) % $P")
    }
  }
  def bandKeysDuck(
      sig: String,
      bands: Int = Bands,
      rowsPerBand: Int = RowsPerBand): Seq[String] = {
    requireBanding(bands, rowsPerBand)
    (0 until bands).map { b =>
      val idx = (0 until rowsPerBand).map(r => s"$sig[${b * rowsPerBand + r + 1}]")
      idx.tail.foldLeft(idx.head)((acc, m) => s"(($acc) * 31 + $m) % $P")
    }
  }
  private def requireBanding(bands: Int, rowsPerBand: Int): Unit =
    require(
      bands >= 1 && rowsPerBand >= 1 && bands * rowsPerBand <= NumMinhash,
      s"banding $bands×$rowsPerBand exceeds the $NumMinhash-value signature")

  /** Count of positions where two signature arrays agree (MinHash
    * Jaccard estimate numerator, out of NumMinhash).
    */
  def sigAgreementSpark(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v)"
  def sigAgreementDuck(a: String, b: String): String =
    s"list_sum(list_transform(range(1, ${NumMinhash + 1}), i -> CASE WHEN $a[i] = $b[i] THEN 1 ELSE 0 END))::BIGINT"

  // ---------- SimHash (SimhashBits-bit fingerprint from word hashes) ----------
  /** Per-word polynomial hash array. Spark's CollapseProject rule
    * inlines projected expressions into every consumer, so an
    * expensive array expression referenced k times is re-evaluated k
    * times — callers MUST materialize this column (persist/cache)
    * before feeding it to [[simhashVotesFromHashesSpark]], which
    * indexes it once per bit. (Benchmarked: the naive inlined
    * formulation was 60× slower.)
    */
  def wordHashesSpark(w: String): String =
    s"transform($w, t -> ${charHashSpark("t")})"

  /** Vote vector from a (materialized) word-hash array column:
    * votes[i] = Σ_words (bit_i(h) ? +1 : −1). No intermediate per-word
    * bit arrays — allocation-free per element.
    */
  def simhashVotesFromHashesSpark(wh: String): String =
    s"transform(sequence(0, ${SimhashBits - 1}), i -> aggregate($wh, 0, (a, h) -> a + IF(((h >> i) & 1) = 1, 1, -1)))"

  /** Pack a vote vector into the fingerprint BIGINT. Elementwise
    * zip_with against the power table so `votes` is evaluated once
    * even if Catalyst inlines it.
    */
  def simhashPackSpark(votes: String): String =
    s"aggregate(zip_with($votes, transform(sequence(0, ${SimhashBits - 1}), i -> shiftleft(1L, i)), (v, p) -> IF(v > 0, p, 0L)), 0L, (acc, x) -> acc + x)"

  def simhashVotesDuck(w: String): String = {
    val wordHashes = s"list_transform($w, t -> ${charHashDuck("t")})"
    val bitVecs =
      s"list_transform($wordHashes, h -> list_transform(range(0, $SimhashBits), i -> CASE WHEN ((h >> i) & 1) = 1 THEN 1 ELSE -1 END))"
    s"list_reduce($bitVecs, (acc, v) -> list_transform(range(1, ${SimhashBits + 1}), i -> acc[i] + v[i]))"
  }
  def simhashPackDuck(votes: String): String =
    s"list_sum(list_transform(range(1, ${SimhashBits + 1}), i -> CASE WHEN $votes[i] > 0 THEN (1::BIGINT << (i - 1)) ELSE 0::BIGINT END))::BIGINT"

  // ---------- language-ID / quality heuristics (shared patterns) ----------
  /** (lang, stopword alternation) in heuristic priority order; the
    * zh entry is a CJK codepoint class, spelled per-dialect below.
    */
  val langStopwordLists: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "is", "in", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein"),
    "es" -> Seq("el", "los", "las", "es", "una", "que", "y"),
    "fr" -> Seq("le", "les", "et", "est", "une", "dans", "pour"))
  val langStopwords: Seq[(String, String)] =
    langStopwordLists.map { case (l, ws) => l -> ws.mkString("(", "|", ")") }

  def regexpCountSpark(s: String, pattern: String): String =
    s"regexp_count($s, '$pattern')"
  def regexpCountDuck(s: String, pattern: String): String =
    s"len(regexp_extract_all($s, '$pattern'))"

  /** Count of `\b(w1|w2|…)\b` matches for PURE-LETTER word sets,
    * computed without the alternation regex: `\w` runs are maximal,
    * so a letter-only pattern bounded by `\b` on both sides can only
    * match a whole run — the count is the number of `\w` runs that
    * equal a set member, which [[WordSetHits]] counts for ALL sets in
    * one JIT'd byte scan (per-set alternation regexes backtrack per
    * char; split+filter HOFs are interpreted and CSE-excluded —
    * measured 3× worse). Emits element `idx` of the shared call:
    * identical call strings collapse to one scan under codegen
    * subexpression elimination. Callers must have run
    * `WordSetHits.register(spark)`. The regex form stays on the
    * DuckDB side, so the oracle verifies the equivalence row by row.
    */
  /** Validate word sets and build the `word_set_hits` spec string.
    * The spec joins words with ',' and sets with '|', so a word
    * containing either (or an uppercase letter — the kernel scans
    * lowered text) would silently corrupt set boundaries; fail fast
    * instead. Shared by every `word_set_hits` call site.
    */
  def wordSetSpec(sets: Seq[Seq[String]]): String = {
    require(sets.nonEmpty && sets.forall(ws => ws.nonEmpty && ws.forall(_.matches("[a-z]+"))),
      s"word_set_hits needs pure-letter lowercase words, got $sets")
    sets.map(_.mkString(",")).mkString("|")
  }

  def wordSetHitsSpark(s: String, sets: Seq[Seq[String]], idx: Int): String = {
    val spec = wordSetSpec(sets)
    require(idx >= 0 && idx < sets.length, s"set index $idx out of range")
    s"element_at(word_set_hits($s, '$spec'), ${idx + 1})"
  }

  val cjkClassSpark = "[\\\\u4e00-\\\\u9fff]"
  val cjkClassDuck = "[\\x{4e00}-\\x{9fff}]"
  val punctClass = "[^a-zA-Z0-9\\\\s]"
  val punctClassDuck = "[^a-zA-Z0-9\\s]"
  /** BPE-ish token pattern: letter runs, digit runs, punct runs. */
  val bpeClass = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\\\s]+"
  val bpeClassDuck = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]+"
  // Spark side now counts stopwords via WordSetHits (one byte scan,
  // RE2-parity \b); only the DuckDB oracle twin keeps the regex —
  // derived from the same list so the two can never drift.
  val stopwordPatternDuck: String =
    langStopwordLists.head._2.mkString("\\b(", "|", ")\\b")

  /** Fixed-point parts-per-million of a ratio — floor() sidesteps
    * engine-specific rounding of exact .5 ties (e.g. 1/128 at scale 6),
    * which HALF_UP vs HALF_EVEN would split on.
    */
  def ppmSpark(num: String, den: String): String =
    s"CASE WHEN $den = 0 THEN 0L ELSE floor(1e6 * ($num) / ($den)) END"
  def ppmDuck(num: String, den: String): String =
    s"CASE WHEN $den = 0 THEN 0 ELSE CAST(floor(1e6 * ($num) / ($den)) AS BIGINT) END"
}
