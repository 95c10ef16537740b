package graft.text

/** Krovetz-style rule+exception stemmer (P5; the reference stems with
  * the external Krovetz stemmer — `TrecWordCount2.java:57-79`,
  * `TrecMutualInfo2.java:131-146`).
  *
  * The published algorithm (Krovetz, SIGIR 1993: inflectional
  * morphology as plural → past-tense → -ing removal, with a dictionary
  * deciding undoubling and e-restoration) is ported as its three-step
  * rule skeleton; the dictionary is replaced by deterministic
  * orthographic rules plus an explicit exception table. Everything is
  * generated as ENGINE-NEUTRAL SQL (CASE/substr/length/`||`/IN — the
  * dialect subset Spark and DuckDB share) from this ONE rule source, so
  * the Spark plan and the DuckDB oracle execute identical logic
  * (cross-engine rule: never two copies of a gated formula).
  *
  * Divergences from dictionary Krovetz are the cases where only a head
  * word list can decide ('treated'→'treat' vs 'created'→'create': both
  * end vowel+'t'); the exception table pins the frequent ones and
  * KrovetzStemSpec documents examples.
  */
object KrovetzStem {

  /** Full-token exceptions, applied before any rule: the dictionary
    * layer of Krovetz. The published stemmer consults a ~30k headword
    * lexicon twice — words that ARE headwords return unchanged
    * (protection), and a direct-conflation table maps irregular forms
    * (Krovetz 1993 §3; Lemur `KrovetzStemmer` behavior). This table is
    * the curated completion of both families over the suffix patterns
    * the orthographic rules mis-handle: every entry is either a
    * headword that *looks* suffixed (protection, maps to itself) or an
    * irregular form whose stem no rule can derive (conflation).
    * KrovetzStemSpec pins each family; unlisted rare words fall to the
    * rules and may diverge from dictionary Krovetz (documented there).
    */
  val exceptions: Seq[(String, String)] = Seq(
    // --- protection: lexical '-s' headwords (not plurals) ---
    "news" -> "news", "series" -> "series", "species" -> "species",
    "alias" -> "alias", "bias" -> "bias",
    "atlas" -> "atlas", "chaos" -> "chaos", "lens" -> "lens",
    "canvas" -> "canvas", "always" -> "always", "perhaps" -> "perhaps",
    "diabetes" -> "diabetes", "christmas" -> "christmas",
    "molasses" -> "molasses", "measles" -> "measles",
    "cosmos" -> "cosmos", "texas" -> "texas", "kansas" -> "kansas",
    "whereas" -> "whereas", "upstairs" -> "upstairs",
    "downstairs" -> "downstairs", "overseas" -> "overseas",
    "corps" -> "corps", "headquarters" -> "headquarters",
    "scissors" -> "scissors",
    // --- protection: '-ing' headwords the length guard misses ---
    "during" -> "during", "morning" -> "morning", "evening" -> "evening",
    "nothing" -> "nothing", "something" -> "something",
    "anything" -> "anything", "everything" -> "everything",
    "spring" -> "spring", "string" -> "string", "sterling" -> "sterling",
    "ceiling" -> "ceiling", "sibling" -> "sibling", "darling" -> "darling",
    "dwelling" -> "dwelling", "shilling" -> "shilling",
    "cunning" -> "cunning", "herring" -> "herring", "pudding" -> "pudding",
    "wedding" -> "wedding", "lightning" -> "lightning",
    "offspring" -> "offspring", "earring" -> "earring",
    "outstanding" -> "outstanding", "awning" -> "awning",
    // --- protection: '-ed' headwords ---
    "hundred" -> "hundred", "sacred" -> "sacred", "hatred" -> "hatred",
    "kindred" -> "kindred", "naked" -> "naked", "wicked" -> "wicked",
    "rugged" -> "rugged", "ragged" -> "ragged", "wretched" -> "wretched",
    "shred" -> "shred", "infrared" -> "infrared",
    "crooked" -> "crooked", "beloved" -> "beloved", "jagged" -> "jagged",
    // --- conflation: '-oes'/'-ies'/'-es' irregular plurals ---
    "movies" -> "movie", "shoes" -> "shoe",
    "cookies" -> "cookie", "calories" -> "calorie", "rookies" -> "rookie",
    "zombies" -> "zombie", "prairies" -> "prairie",
    "gases" -> "gas", "buses" -> "bus", "viruses" -> "virus",
    "bonuses" -> "bonus", "focuses" -> "focus", "censuses" -> "census",
    "does" -> "do", "goes" -> "go", "canoes" -> "canoe",
    "oboes" -> "oboe",
    // --- conflation: '-eed' / short '-ied' below the length guards ---
    "agreed" -> "agree", "freed" -> "free",
    "died" -> "die", "lied" -> "lie", "tied" -> "tie", "vied" -> "vie",
    "cued" -> "cue", "sued" -> "sue", "owed" -> "owe", "eyed" -> "eye",
    "iced" -> "ice", "toed" -> "toe", "hued" -> "hue",
    // --- conflation: short / irregular '-ing' and '-ed' forms ---
    "dying" -> "die", "lying" -> "lie", "tying" -> "tie",
    "vying" -> "vie", "going" -> "go", "doing" -> "do",
    "using" -> "use", "used" -> "use", "owing" -> "owe",
    "suing" -> "sue", "aging" -> "age", "aged" -> "age",
    "writing" -> "write",
    // --- conflation: stems only a dictionary can restore ---
    "created" -> "create", "creating" -> "create",
    "biased" -> "bias", "biases" -> "bias", "canoed" -> "canoe",
    // --- conflation: 'p'-final stems (stress-ambiguous after 'i'/'o'/
    //     'y': hoped→hope but developed→develop, wiped→wipe but
    //     gossiped→gossip; the 'a' family restores by rule) ---
    "hoped" -> "hope", "hoping" -> "hope",
    "typed" -> "type", "typing" -> "type",
    "wiped" -> "wipe", "wiping" -> "wipe",
    "coped" -> "cope", "coping" -> "cope", "roped" -> "rope",
    "sloped" -> "slope", "sloping" -> "slope", "scoped" -> "scope",
    "scoping" -> "scope", "groped" -> "grope", "eloped" -> "elope",
    "doped" -> "dope", "piped" -> "pipe", "piping" -> "pipe",
    "swiped" -> "swipe", "striped" -> "stripe",
    // --- conflation: 't'-final stems after 'i'/'o' (visited→visit but
    //     united→unite; the 'a'/'u' families restore by rule) ---
    "noted" -> "note", "noting" -> "note", "voted" -> "vote",
    "voting" -> "vote", "cited" -> "cite",
    "citing" -> "cite",
    "quoted" -> "quote", "quoting" -> "quote", "united" -> "unite",
    "uniting" -> "unite", "invited" -> "invite", "inviting" -> "invite",
    "promoted" -> "promote", "promoting" -> "promote",
    "devoted" -> "devote", "devoting" -> "devote",
    "excited" -> "excite", "exciting" -> "excite",
    "ignited" -> "ignite", "recited" -> "recite",
    "incited" -> "incite", "reunited" -> "reunite",
    "expedited" -> "expedite", "denoted" -> "denote",
    "demoted" -> "demote",
    // --- conflation: 'r'-final stems after 'o' (scored→score but
    //     honored→honor; the 'a'/'i'/'u' families restore by rule) ---
    "scored" -> "score", "scoring" -> "score", "stored" -> "store",
    "storing" -> "store", "ignored" -> "ignore",
    "ignoring" -> "ignore", "explored" -> "explore",
    "exploring" -> "explore", "bored" -> "bore", "boring" -> "bore",
    "restored" -> "restore", "restoring" -> "restore",
    "adored" -> "adore", "adoring" -> "adore",
    "snored" -> "snore", "snoring" -> "snore",
    // --- conflation: rule false positives the dictionary undoes
    //     (murmur keeps a single unstressed 'r'; iron/postpone fall on
    //     the wrong side of the short-'o' length guard; combat/debut
    //     end in restoring vowel+t but take no 'e') ---
    "murmured" -> "murmur", "murmuring" -> "murmur",
    "sugared" -> "sugar", "sugaring" -> "sugar",
    "collared" -> "collar", "beggared" -> "beggar",
    "ironed" -> "iron", "ironing" -> "iron",
    "postponed" -> "postpone", "postponing" -> "postpone",
    "combated" -> "combat", "combating" -> "combat",
    "debuted" -> "debut", "debuting" -> "debut",
    "waned" -> "wane", "waning" -> "wane",
    "bottomed" -> "bottom", "bottoming" -> "bottom",
    "blossomed" -> "blossom", "blossoming" -> "blossom",
    "ransomed" -> "ransom",
    // --- conflation: '-ng' verb stems (review r14: restoreE's 'g'
    //     rule is right for the chang-/arrang-/manag- family but
    //     appends a spurious 'e' to real -ng stems — singing→'singe'
    //     collided with the distinct verb singe; orthography cannot
    //     split sing(4)/chang(5), only a lexicon layer can) ---
    "singing" -> "sing", "bringing" -> "bring", "hanging" -> "hang",
    "hanged" -> "hang", "ringing" -> "ring", "ringed" -> "ring",
    "springing" -> "spring", "stringing" -> "string",
    "swinging" -> "swing", "clinging" -> "cling",
    "stinging" -> "sting", "flinging" -> "fling",
    "slinging" -> "sling", "banging" -> "bang", "banged" -> "bang",
    "longing" -> "long", "longed" -> "long", "winged" -> "wing",
    "belonging" -> "belong", "belonged" -> "belong",
    // --- conflation: 'z'-final stems (review r14: the -zzes rule now
    //     keeps doubled stems — buzzes→buzz, jazzes→jazz — and quiz,
    //     which DOUBLES in inflection, conflates here; doubled()
    //     excludes 'z' to protect the buzz family) ---
    "quizzes" -> "quiz", "quizzed" -> "quiz", "quizzing" -> "quiz",
    // --- r17: the magic-e stems the r16 divergence list pinned as
    //     rule-undecidable (VERDICT item 2) — the orthographic rules
    //     are right NOT to restore 'e' for their patterns in general
    //     (sit/visit, dot/develop, plan/stun, mop/gossip), so only a
    //     lexicon entry can restore these; with no public kstem word
    //     list reachable in this environment the frequent members are
    //     curated here. 'moped' is the HOMOGRAPH case: dictionary
    //     Krovetz finds the headword (the vehicle) and returns it
    //     unchanged — protection, not mope+ed conflation ---
    "moped" -> "moped",
    "sited" -> "site", "siting" -> "site",
    "doted" -> "dote", "doting" -> "dote",
    "moping" -> "mope", "mopes" -> "mope",
    "griped" -> "gripe", "griping" -> "gripe",
    "craned" -> "crane", "craning" -> "crane",
    "dethroned" -> "dethrone", "dethroning" -> "dethrone",
    "enthroned" -> "enthrone", "enthroning" -> "enthrone",
    "hoed" -> "hoe", "hoeing" -> "hoe",
    // --- r18 (r17 verdict item 4): systematize the curated class.
    //     The sandbox ships no public word list (/usr/share/dict is
    //     absent) and the testdata vocabulary is 31 UNINFLECTED
    //     tokens (zero -ed/-ing/-es forms — the vocabulary-derived
    //     candidate set is empty), so the remaining lever is family-
    //     level curation: StemProbe swept the magic-e pattern
    //     families and found two the rules get systematically wrong —
    //     'l' after a single vowel (file/rule/pole: the rules rightly
    //     refuse blanket restore because penciled/stenciled/imperiled
    //     /modeled/totaled keep bare 'l' — unstressed final syllables;
    //     orthography cannot see stress) and 'd' after single 'e'
    //     (the -cede/-pede family). Frequent members pinned here with
    //     dictionary answers; the rare tail stays the documented
    //     residual (KrovetzStemSpec) ---
    "filed" -> "file", "filing" -> "file",
    "smiled" -> "smile", "smiling" -> "smile",
    "piled" -> "pile", "piling" -> "pile",
    "tiled" -> "tile", "tiling" -> "tile",
    "compiled" -> "compile", "compiling" -> "compile",
    "reconciled" -> "reconcile", "reconciling" -> "reconcile",
    "profiled" -> "profile", "profiling" -> "profile",
    "exiled" -> "exile", "exiling" -> "exile",
    "beguiled" -> "beguile", "beguiling" -> "beguile",
    "defiled" -> "defile", "defiling" -> "defile",
    "ruled" -> "rule", "ruling" -> "rule",
    "overruled" -> "overrule", "overruling" -> "overrule",
    "scheduled" -> "schedule", "scheduling" -> "schedule",
    "rescheduled" -> "reschedule", "rescheduling" -> "reschedule",
    "poled" -> "pole", "poling" -> "pole",
    "doled" -> "dole", "doling" -> "dole",
    "holed" -> "hole", "holing" -> "hole",
    "soled" -> "sole", "soling" -> "sole",
    "moled" -> "mole",
    "paroled" -> "parole", "paroling" -> "parole",
    "consoled" -> "console", "consoling" -> "console",
    "cajoled" -> "cajole", "cajoling" -> "cajole",
    "scaled" -> "scale", "scaling" -> "scale",
    "exhaled" -> "exhale", "exhaling" -> "exhale",
    "inhaled" -> "inhale", "inhaling" -> "inhale",
    "impaled" -> "impale", "impaling" -> "impale",
    "ceded" -> "cede", "ceding" -> "cede",
    "preceded" -> "precede", "preceding" -> "precede",
    "receded" -> "recede", "receding" -> "recede",
    "conceded" -> "concede", "conceding" -> "concede",
    "acceded" -> "accede", "acceding" -> "accede",
    "seceded" -> "secede", "seceding" -> "secede",
    "impeded" -> "impede", "impeding" -> "impede",
    "superseded" -> "supersede", "superseding" -> "supersede",
    "stampeded" -> "stampede", "stampeding" -> "stampede",
    "sniped" -> "snipe", "sniping" -> "snipe")

  private val V = "('a','e','i','o','u')"

  /** char `back` positions from the END of column `c` (0 = last). */
  private def ch(c: String, back: Int): String =
    s"substr($c, length($c) - $back, 1)"

  /** `c` ends with literal `s` AND is at least `minLen` long. The
    * length guard makes the conjunction false on short tokens before
    * the substr can alias from the string head (both engines treat
    * out-of-range starts leniently; AND-falsity is what protects us,
    * not evaluation order).
    */
  private def ends(c: String, s: String, minLen: Int): String =
    s"(length($c) >= $minLen AND " +
      s"substr($c, length($c) - ${s.length - 1}, ${s.length}) = '$s')"

  private def drop(c: String, n: Int): String =
    s"substr($c, 1, length($c) - $n)"

  /** Exception lookup: the mapped stem, or NULL when `c` is regular. */
  def exceptionSql(c: String): String =
    exceptions.map { case (k, v) => s"WHEN $c = '$k' THEN '$v'" }
      .mkString("CASE ", " ", " ELSE NULL END")

  /** Step 1 — plural removal (`-ies`→y, sibilant `-es`, `-s`; `-ss`,
    * `-us`, `-is`, `-ics` protected). Length-4 `-oes` is the plural of
    * an `-oe` noun (toes, hoes, foes, woes) and drops only the 's';
    * the two length-4 verbs (goes, does) are table conflations. Longer
    * `-oes` is o-plural (heroes, potatoes) and drops 'es', with the
    * `-oe` nouns long enough to collide (shoes, canoes) in the table.
    */
  def pluralSql(c: String): String =
    s"""CASE
       | WHEN ${ends(c, "ics", 4)} THEN $c
       | WHEN ${ends(c, "ies", 5)} THEN ${drop(c, 3)} || 'y'
       | WHEN ${ends(c, "zzes", 5)} THEN ${drop(c, 2)}
       | WHEN ${ends(c, "sses", 5)} THEN ${drop(c, 2)}
       | WHEN ${ends(c, "shes", 5)} THEN ${drop(c, 2)}
       | WHEN ${ends(c, "ches", 5)} THEN ${drop(c, 2)}
       | WHEN ${ends(c, "xes", 4)} THEN ${drop(c, 2)}
       | WHEN ${ends(c, "oes", 4)} AND length($c) = 4 THEN ${drop(c, 1)}
       | WHEN ${ends(c, "oes", 4)} THEN ${drop(c, 2)}
       | WHEN ${ends(c, "ss", 2)} THEN $c
       | WHEN ${ends(c, "us", 4)} THEN $c
       | WHEN ${ends(c, "is", 4)} THEN $c
       | WHEN ${ends(c, "s", 4)} THEN ${drop(c, 1)}
       | ELSE $c END""".stripMargin.replaceAll("\\s+", " ").trim

  /** Undoubling after suffix removal: stem ends in a doubled consonant
    * that English only doubles before a suffix. `off` is the suffix
    * length (2 for -ed, 3 for -ing); standard letters undouble at stem
    * length ≥ 4 ('wedded'→'wed' but 'added' stays 'add'), 'l' only at
    * stem length ≥ 6 ('controlled'→'control' but 'called' stays
    * 'call' — 'll' is a common valid ending).
    */
  private def doubled(c: String, off: Int): String = {
    val last = ch(c, off); val prev = ch(c, off + 1)
    s"($last = $prev AND (" +
      s"($last IN ('b','d','g','m','n','p','r','t') AND length($c) >= ${off + 4}) OR " +
      s"($last = 'l' AND length($c) >= ${off + 6})))"
  }

  /** e-restoration after suffix removal: endings that essentially never
    * close an English stem without a final 'e' ('c','v','u','g'
    * always; 'k'/'z'/'s' after a single vowel; 'l' after a non-l
    * consonant; 'd'/'m'/'b' after a single non-'e' vowel
    * (decided→decide, named→name, described→describe; the 'e'
    * exclusion keeps attended/happened/seemed bare)).
    *
    * The r16 dictionary-completion families lean on English doubling
    * orthography: a verb whose stem ends in short-vowel+consonant
    * doubles that consonant before -ed/-ing (starred, stopped,
    * planned), so a SINGLE final 'r'/'t'/'p' after a restoring vowel
    * implies a magic-e stem —
    *  - 't' after 'a'/'u' (created→create, computed→compute), with
    *    'e'/'o' digraphs excluded (treated, coated, shouted stay bare)
    *    but 'i'/'u' hiatus vowels allowed (associated→associate,
    *    graduated→graduate);
    *  - 'r' after 'a'/'i'/'u' (cared→care, fired→fire,
    *    measured→measure; squared/required restore through the 'u'
    *    hiatus), with 'e'/'o'/'a' digraphs excluded (feared, soared,
    *    paired stay bare);
    *  - 'p' after 'a' (shaped→shape; heaped/soaped digraphs excluded);
    *  - 'n' after 'i' (defined→define), after 'u' (tuned→tune), and
    *    after short-stem 'o' (phoned→phone, cloned→clone; the length
    *    guard keeps reasoned/abandoned/summoned bare);
    *  - 'd' additionally restores through the 'u' hiatus
    *    (guided→guide, persuaded→persuade) while 'a'/'e'/'i'/'o'
    *    digraphs stay bare (loaded, headed, raided, avoided).
    * 't' after 'i'/'o' and 'p' after 'i'/'o' remain undecidable by
    * orthography (visited vs united; developed vs hoped) — only the
    * exception table can know. Dictionary Krovetz decides all of this
    * by lookup; this is the orthographic approximation, with the table
    * above catching the frequent words it gets wrong.
    */
  private def restoreE(c: String, off: Int): String = {
    val l = ch(c, off); val p = ch(c, off + 1); val pp = ch(c, off + 2)
    s"($l IN ('c','v','u','g') OR " +
      s"($l = 'k' AND $p IN $V AND NOT $pp IN $V) OR " +
      s"($l IN ('z','s') AND $p IN $V) OR " +
      s"($l = 'l' AND NOT $p IN $V AND $p <> 'l') OR " +
      s"($l = 'n' AND ($p = 'i' OR $p = 'u' OR " +
      s"($p = 'o' AND length($c) <= ${off + 5})) AND NOT $pp IN $V) OR " +
      s"($l IN ('m','b') AND $p IN ('a','i','o','u') AND NOT $pp IN $V) OR " +
      s"($l = 'd' AND $p IN ('a','i','o','u') AND NOT $pp IN ('a','e','i','o')) OR " +
      s"($l = 't' AND $p IN ('a','u') AND NOT $pp IN ('e','o')) OR " +
      s"($l = 'r' AND $p IN ('a','i','u') AND NOT $pp IN ('a','e','o')) OR " +
      s"($l = 'p' AND $p = 'a' AND NOT $pp IN ('e','o')))"
  }

  /** Step 2 — past tense (`-eed` kept, `-ied`→y, `-ed` with
    * undoubling / e-restoration).
    */
  def pastSql(c: String): String =
    s"""CASE
       | WHEN ${ends(c, "eed", 5)} THEN $c
       | WHEN ${ends(c, "ied", 5)} THEN ${drop(c, 3)} || 'y'
       | WHEN ${ends(c, "ed", 5)} THEN CASE
       |   WHEN ${doubled(c, 2)} THEN ${drop(c, 3)}
       |   WHEN ${restoreE(c, 2)} THEN ${drop(c, 2)} || 'e'
       |   ELSE ${drop(c, 2)} END
       | ELSE $c END""".stripMargin.replaceAll("\\s+", " ").trim

  /** Step 3 — `-ing` removal with the same undoubling / e-restoration. */
  def ingSql(c: String): String =
    s"""CASE
       | WHEN ${ends(c, "ing", 6)} THEN CASE
       |   WHEN ${doubled(c, 3)} THEN ${drop(c, 4)}
       |   WHEN ${restoreE(c, 3)} THEN ${drop(c, 3)} || 'e'
       |   ELSE ${drop(c, 3)} END
       | ELSE $c END""".stripMargin.replaceAll("\\s+", " ").trim

  /** Spark pipeline: adds `out` to `df` as the Krovetz stem of `in`.
    * Staged columns keep each generated CASE referencing a NAMED column
    * (nesting the steps textually would explode the expression tree).
    *
    * The dictionary is consulted TWICE, as in Krovetz 1993: on the raw
    * token, and again on the plural-stripped form — without the second
    * probe a plural of a protected '-ing' headword blows through
    * protection ('strings' → 'string' → the -ing rule → 'str'; with it,
    * 'strings' → 'string' → table → 'string').
    *
    * Both probes go through the native [[graft.functions.KrovetzEx]]
    * expression — one static-HashMap probe per token — NOT the
    * generated [[exceptionSql]] CASE the DuckDB oracle runs: that
    * CASE chain codegens to a linear string-compare ladder per token
    * and measured 5–6.6× DuckDB in the round-9 bench. Same table, same
    * equality, one source of truth; KrovetzStemSpec pins cross-engine
    * agreement.
    */
  def stem(df: org.apache.spark.sql.DataFrame, in: String,
           out: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.GraftColumnBridge
    def kx(c: String) = GraftColumnBridge.column(
      graft.functions.KrovetzEx(GraftColumnBridge.expression(col(c))))
    // construct the expression directly (not via the registered
    // "krovetz_ex" SQL name) so stem() keeps working on sessions
    // built without GraftExtensions. Stage names carry the _kvst_
    // prefix (review r18): the old bare _s1/_s2/_s3/_kx names
    // silently CLOBBERED and then dropped same-named caller columns.
    df.withColumn("_kvst_kx", kx(in))
      .withColumn("_kvst_s1", expr(pluralSql(in)))
      .withColumn("_kvst_kx1", kx("_kvst_s1"))
      .withColumn("_kvst_s2", expr(pastSql("_kvst_s1")))
      .withColumn("_kvst_s3", expr(ingSql("_kvst_s2")))
      .withColumn(out, expr("coalesce(_kvst_kx, _kvst_kx1, _kvst_s3)"))
      .drop("_kvst_kx", "_kvst_kx1", "_kvst_s1", "_kvst_s2", "_kvst_s3")
  }

  /** DuckDB pipeline over an inner relation exposing `termCol`:
    * same staged shape, same generated SQL strings.
    */
  def duckStemSql(innerSql: String, termCol: String, out: String): String =
    s"""SELECT *, coalesce(kx, kx1, s3) AS $out FROM (
       | SELECT *, ${ingSql("s2")} AS s3 FROM (
       |  SELECT *, ${pastSql("s1")} AS s2,
       |         ${exceptionSql("s1")} AS kx1 FROM (
       |   SELECT *, ${pluralSql(termCol)} AS s1,
       |          ${exceptionSql(termCol)} AS kx
       |   FROM ($innerSql) _kv0)))""".stripMargin
}
