package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for the web-pages/documents table.
  * All are pure Catalyst expressions (whole-stage-codegen friendly, no UDF),
  * mirroring the reference's string-normalization discipline
  * (catatom2osm/hgwnames.py:11-46) generalized to corpus analytics.
  */
object TextFns {

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(text, " ")

  /** Token count via length arithmetic (identical to the oracle SQL form
    * `length(text) - length(replace(text, ' ', '')) + 1`). */
  def tokenCount(text: Column): Column =
    (length(text) - length(replaceLit(text, " ", "")) + lit(1)).cast("long")

  /** GPT-2-style pre-tokenizer alternation (ASCII form, so Java regex and
    * DuckDB's RE2 tokenize identically — both leftmost-first): contractions,
    * space-prefixed words / numbers / punctuation runs, residual spaces. */
  val BpePattern = "'s|'t|'re|'ve|'m|'ll|'d| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+| +"

  /** BPE-ish pre-token count over the alternation above. */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpePattern), lit(0))).cast("long")

  /** Occurrences of `word` as a standalone token, via length arithmetic so
    * the DuckDB oracle can reproduce it exactly: in ' '||text||' ' replace
    * ' word ' by ' ' and divide the length delta by len(word)+1. */
  def wordOccurrences(text: Column, word: String): Column = {
    val padded = concat(lit(" "), text, lit(" "))
    val target = s" $word "
    ((length(padded) - length(replaceLit(padded, target, " "))) / lit(target.length - 1))
      .cast("long")
  }

  /** Deterministic split bucket in [0, 100): the top 48 bits of md5(id),
    * mod 100. A pure function of the id — the train/val assignment of a
    * document is stable across reruns, cluster sizes, and corpus appends
    * (new documents never reshuffle old assignments), which is the property
    * a training-data split needs at 100 TB. 12 hex chars = 48 bits, so the
    * value fits a signed long in both Spark (conv→cast) and DuckDB
    * ('0x'||prefix::BIGINT) with identical arithmetic. */
  def splitBucket(id: Column): Column = hashBucket(id.cast("string"), 100)

  /** The shared md5-48-bit-prefix bucket: mod of the first 12 hex chars of
    * md5(expr). DuckDB parity: ('0x' || substr(md5(expr), 1, 12))::BIGINT
    * % m — identical arithmetic (48 bits fit signed longs in both
    * engines). Every deterministic hash decision in the engine
    * ([[splitBucket]], [[sampleBp]], Relevance.featureBucket) routes
    * through here so a parity fix lands once. */
  def hashBucket(expr: Column, mod: Int): Column = hash48(expr) % mod

  /** The full 48-bit md5-prefix value (the bucket idiom without the mod),
    * for decisions that need a total order rather than a bucket — e.g.
    * the within-shard position of [[Sampling.shardShuffle]]. Same DuckDB
    * parity contract as [[hashBucket]]. */
  def hash48(expr: Column): Column =
    conv(substring(md5(expr), 1, 12), 16, 10).cast("long")

  /** `text` chunked into fixed `w`-token lines (ragged tail dropped) —
    * the deterministic stand-in for newline structure the synthetic corpus
    * lacks, feeding the C4-style line-level cleanup. Array HOFs only:
    * stays inside one projection, no explode. */
  def fixedLines(text: Column, w: Int): Column = {
    val toks = filter(split(text, " "), t => length(t) > lit(0))
    val nLines = (size(toks) / lit(w)).cast("int")
    when(nLines > 0,
      transform(sequence(lit(0), nLines - 1),
        i => array_join(slice(toks, i * w + 1, lit(w)), " ")))
      .otherwise(array().cast("array<string>"))
  }

  /** Deterministic sampling coordinate in [0, 10000) basis points, salted
    * so distinct pipeline stages (split vs mixing vs subsampling) draw
    * INDEPENDENT hash coordinates from the same id — without a salt every
    * stage would reuse the same md5 value and couple its decisions to the
    * train/val split. Same 48-bit-prefix arithmetic as [[splitBucket]],
    * bit-identical in Spark and DuckDB. */
  def sampleBp(id: Column, salt: String): Column =
    hashBucket(concat(id.cast("string"), lit(salt)), 10000)

  /** PII redaction patterns. Both regexes restrict themselves to syntax
    * with identical semantics in Java (Spark) and RE2 (DuckDB): character
    * classes, bounded repeats, literals — no backrefs, no lookaround — so
    * the scrub is oracle-replayable bit-for-bit. */
  val EmailRe = "[a-z0-9._]+@[a-z0-9]+\\.[a-z]+"
  val PhoneRe = "[0-9]{3}-[0-9]{4}"

  /** Count of matches of a redaction pattern — one codegen'd scan pass. */
  def piiCount(text: Column, re: String): Column =
    size(regexp_extract_all(text, lit(re), lit(0))).cast("long")

  /** Redact emails then phone-shaped numbers. Spark's regexp_replace is
    * global by default (DuckDB needs the 'g' flag — the oracle carries it). */
  def piiScrub(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>")

  /** Quality-score components (length / stopword ratios; reference-style
    * deterministic scoring). Returns struct columns for select(). */
  def charLen(text: Column): Column = length(text).cast("long")

  /** Per-document token Shannon entropy in integer MICRO-NATS — the
    * diversity signal of the Gopher/C4 repetition family (a low-entropy
    * doc is keyword-stuffed or template spam). Cost of a token occurring
    * c times in an n-token doc = round(-ln(c/n)·1e6); the document value
    * is the BIGINT sum of per-occurrence costs, so it is exact integer
    * arithmetic after one IEEE division + one ln per DISTINCT token —
    * the same determinism contract as [[LangModel]].
    *
    * SCAN-ONLY plan: the histogram is computed inside the row via
    * array_sort + run-length detection in higher-order functions — no
    * explode, no (doc, token) exchange. The naive formulation shuffles
    * one row per corpus TOKEN (~10^15 at 100 TB); this shuffles nothing. */
  def tokenEntropyUnats(toks: Column): Column = {
    val s = array_sort(toks)
    val n = size(s)
    // 1-based positions where a run of equal tokens ends
    val ends = filter(sequence(lit(1), n),
      i => (i === n) || (element_at(s, i) =!= element_at(s, i + 1)))
    // run length j = ends[j] - ends[j-1] (0-based lambda index)
    val costs = transform(ends, (e, j) => {
      val c = e - when(j === lit(0), lit(0)).otherwise(element_at(ends, j))
      c.cast("long") *
        round(-log(c.cast("double") / n.cast("double")) * lit(1e6)).cast("long")
    })
    aggregate(costs, lit(0L), (acc, x) => acc + x)
  }

  /** Distinct-token / total-token ratio, rounded to 6 places — the
    * classic lexical-diversity companion to [[tokenEntropyUnats]]. */
  def typeTokenRatio(toks: Column): Column =
    round(size(array_distinct(toks)).cast("double") / size(toks).cast("double"), 6)

  /** Literal replace-all of a non-empty `find` (Spark's `replace`, i.e.
    * StringReplace; DuckDB's replace()). */
  def replaceLit(c: Column, find: String, repl: String): Column = {
    require(find.nonEmpty, "replaceLit needs a non-empty search string")
    replace(c, lit(find), lit(repl))
  }

  /** Stopword lexicon of [[langId]] — the single source: the q_lang_id and
    * q_corpus_clean oracle SQL is generated from it too. */
  val langLexicon: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "es"),
    "fr" -> Seq("le", "la", "et", "de", "un", "en", "est"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein", "zu"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和"))

  /** Stopword-based language id (n-gram-heuristic class of classifier,
    * deterministic, data-independent): the language whose stopwords occur
    * most among the distinct letter-run tokens of `lower(text)`. One native
    * pass ([[graft.functions.LangIdExpr]]) walks the code points once and
    * scores all languages together, instead of one split/distinct/intersect
    * subtree per language. Ties go to the first language in code order
    * (de, en, es, fr, zh); no stopword at all, or null text, gives "und". */
  def langId(text: Column): Column =
    graft.functions.LangIdExpr.langId(lower(text), langLexicon.toSeq.sortBy(_._1))

  /** 64-bit FNV-1a rolling document fingerprint — pure Scala scalar, used
    * inside typed map for fingerprint dedup. Deterministic across JVMs. */
  def fingerprint64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i).toLong
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** fuzzywuzzy utils.full_process with its default force_ascii=True:
    * strip Latin-1 high bytes (asciidammit's U+0080..U+00FF translation
    * table), replace non-\w chars with spaces, lowercase, trim — so
    * apostrophes and geminated-ele dots (l'Oli, Rul·lan) tokenize exactly
    * like fuzz.token_sort_ratio's preprocessing. */
  def fullProcess(s: String): String =
    s.filterNot(c => c >= 0x80 && c <= 0xFF)
      .map(c => if (c.isLetterOrDigit || c == '_') c else ' ')
      .mkString.toLowerCase.trim

  /** Token-sort-ratio fuzzy match (reference hgwnames.match,
    * catatom2osm/hgwnames.py:49-70 → fuzz.token_sort_ratio): full_process
    * both sides, token-sort, SequenceMatcher 2M/T ratio in [0, 100] with
    * Python's round-half-even. */
  def tokenSortRatio(a: String, b: String): Int = {
    def norm(s: String) =
      fullProcess(s).split("\\s+").filter(_.nonEmpty).sorted.mkString(" ")
    val x = norm(a); val y = norm(b)
    val tot = x.length + y.length
    if (tot == 0) 100
    else BigDecimal(200.0 * difflibMatches(x, y) / tot)
      .setScale(0, BigDecimal.RoundingMode.HALF_EVEN).toInt
  }

  /** difflib.SequenceMatcher's total matching-block size — the M of the
    * ratio when python-Levenshtein is absent, which is the reference
    * environment's fuzzywuzzy backend (the municipalities.csv golden
    * discriminates: "MAO MAHON" vs "Manacor" scores 50 under difflib
    * blocks but 62 under LCS). Faithful port of find_longest_match +
    * get_matching_blocks incl. the autojunk rule for b.length >= 200:
    * popular chars are pruned from b2j (cannot seed a match) but remain
    * matchable through the extension loops, exactly like CPython. */
  def difflibMatches(a: String, b: String): Int = {
    if (a.isEmpty || b.isEmpty) return 0
    val b2j = scala.collection.mutable.Map[Char, List[Int]]()
    for (j <- b.length - 1 to 0 by -1) b2j(b(j)) = j :: b2j.getOrElse(b(j), Nil)
    if (b.length >= 200) {
      val ntest = b.length / 100 + 1
      for ((c, js) <- b2j.toSeq if js.length > ntest) b2j.remove(c)
    }
    def longestMatch(alo: Int, ahi: Int, blo: Int, bhi: Int): (Int, Int, Int) = {
      var besti = alo; var bestj = blo; var bestsize = 0
      var j2len = Map.empty[Int, Int]
      var i = alo
      while (i < ahi) {
        var newj2len = Map.empty[Int, Int]
        for (j <- b2j.getOrElse(a(i), Nil) if j >= blo && j < bhi) {
          val k = j2len.getOrElse(j - 1, 0) + 1
          newj2len += (j -> k)
          if (k > bestsize) { besti = i - k + 1; bestj = j - k + 1; bestsize = k }
        }
        j2len = newj2len
        i += 1
      }
      // CPython's extension loops: autojunk-popular chars are dropped from
      // b2j (they cannot SEED a match) but stay matchable — with no junk
      // function bjunk is empty, so the non-junk and junk loop pairs
      // collapse into one pair extending through ANY equal chars. Runs
      // even at bestsize=0 (a popular run at alo/blo can still match).
      while (besti > alo && bestj > blo && a(besti - 1) == b(bestj - 1)) {
        besti -= 1; bestj -= 1; bestsize += 1
      }
      while (besti + bestsize < ahi && bestj + bestsize < bhi &&
          a(besti + bestsize) == b(bestj + bestsize))
        bestsize += 1
      (besti, bestj, bestsize)
    }
    var total = 0
    val queue = scala.collection.mutable.Stack[(Int, Int, Int, Int)]((0, a.length, 0, b.length))
    while (queue.nonEmpty) {
      val (alo, ahi, blo, bhi) = queue.pop()
      val (i, j, k) = longestMatch(alo, ahi, blo, bhi)
      if (k > 0) {
        total += k
        if (alo < i && blo < j) queue.push((alo, i, blo, j))
        if (i + k < ahi && j + k < bhi) queue.push((i + k, ahi, j + k, bhi))
      }
    }
    total
  }

  /** Street-name normalization — the exact semantics of the reference's
    * hgwnames.parse (catatom2osm/hgwnames.py:15-46): semicolon trim, comma
    * respacing, excluded-substring/type rules, type-abbreviation expansion,
    * Title Case with lowercase articles (parenthesis-stripped lookup),
    * apostrophe-article casing (C/D/L/N/S prefixes, S/N/L/LA/LS suffixes),
    * and geminated-ele rewriting (·L / .L -> ·l). Replays the reference's
    * own test_hgwnames golden table. */
  def parseStreetName(name: String): String = {
    var s = name.split(";")(0)
    s = s.replaceAll(",+", ", ").trim
    if (ExcludedHgws.exists(s.contains)) return ""
    val words = s.split(" +").filter(_.nonEmpty)
    val out = words.zipWithIndex.map { case (word, i) =>
      val nude = word.stripPrefix("(").stripSuffix(")")
      val base =
        if (i == 0) {
          if (ExcludedTypes.contains(word)) return ""
          StreetAbbrevs.getOrElse(word, pyTitle(word))
        } else if (LowcaseWords.contains(nude)) word.toLowerCase
        else if (word.length > 2 && word.substring(1, word.length - 1).contains("'")) {
          val left = word.split("'")(0)
          val right = word.split("'").last
          if (Set("C", "D", "L", "N", "S").contains(left))
            left.toLowerCase + "'" + pyTitle(right)
          else if (Set("S", "N", "L", "LA", "LS").contains(right))
            pyTitle(left) + "'" + right.toLowerCase
          else pyTitle(word)
        } else pyTitle(word)
      base.replace("·L", "·l").replace(".L", "·l")
    }
    out.mkString(" ").trim
  }

  /** Python str.title(): capitalize the letter after every non-letter. */
  def pyTitle(s: String): String = {
    val sb = new StringBuilder
    var prevLetter = false
    for (c <- s) {
      sb += (if (c.isLetter && !prevLetter) c.toUpper else c.toLower)
      prevLetter = c.isLetter
    }
    sb.toString
  }

  /** Reference dictionaries (config.py es_ES slice + defaults at
    * config.py:94-127, 634-635). */
  val StreetAbbrevs: Map[String, String] = Map(
    "AV" -> "Avenida", "CJ" -> "Calleja/Callejón", "CL" -> "Calle",
    "CM" -> "Camino/Carmen", "CR" -> "Carretera/Carrera",
    "CT" -> "Cuesta/Costanilla", "DS" -> "Diseminados", "GL" -> "Glorieta",
    "LG" -> "Lugar", "PS" -> "Paseo", "PZ" -> "Plaza", "RD" -> "Ronda",
    "TR" -> "Travesía/Transversal", "UR" -> "Urbanización")
  val LowcaseWords: Set[String] = Set(
    "DE", "DEL", "EL", "LA", "LOS", "LAS", "Y", "AL", "EN",
    "A LA", "A EL", "A LOS", "DE LA", "DE EL", "DE LOS", "DE LAS",
    "ELS", "LES", "L'", "D'", "N'", "S'", "NA", "DE NA", "SES", "DE SES",
    "D'EN", "D'EL", "D'ES", "DE'N", "DE'L", "DE'S")
  val ExcludedTypes: Set[String] = Set("DS", "ER")
  val ExcludedHgws: Seq[String] = Seq("DISEMINADO")

  /** hgwnames.normalize (hgwnames.py:11-12). */
  def normalizeName(text: String): String =
    (if (text == null) "" else text).toLowerCase.trim.replaceAll(" *\\(.*\\)", "")

  /** hgwnames.match (hgwnames.py:49-70): fuzzy best choice above threshold
    * tagged OSM, else the parsed name tagged CAT. */
  def matchName(name: String, choices: Seq[String], thr: Int = 60): (String, String) = {
    val parsed = parseStreetName(name)
    if (parsed.isEmpty) return (parsed, "CAT")
    val scored = choices.map(c => c -> tokenSortRatio(normalizeName(parsed), normalizeName(c)))
    val best = scored.maxByOption(_._2)
    best match {
      case Some((c, r)) if r > thr => (c, "OSM")
      case _ => (parsed, "CAT")
    }
  }

  /** hgwnames.dsmatch (hgwnames.py:73-96): argmax fuzzy ratio (> 0). */
  def dsMatch[T](name: String, dataset: Seq[T], fn: T => String): Option[T] = {
    var maxRatio = 0
    var matching: Option[T] = None
    for (e <- dataset) {
      val r = tokenSortRatio(normalizeName(name), normalizeName(fn(e)))
      if (r > maxRatio) { maxRatio = r; matching = Some(e) }
    }
    matching
  }

  def levenshteinDist(a: String, b: String): Int = {
    val dp = Array.tabulate(b.length + 1)(identity)
    for (i <- 1 to a.length) {
      var prev = dp(0)
      dp(0) = i
      for (j <- 1 to b.length) {
        val cur = dp(j)
        dp(j) = math.min(
          math.min(dp(j) + 1, dp(j - 1) + 1),
          prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
        prev = cur
      }
    }
    dp(b.length)
  }
}
