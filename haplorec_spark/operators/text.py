"""Text-analysis operators for training-data curation.

Everything is declarative ``pyspark.sql.functions`` programs — no
Python UDFs. The per-document scorers are pure column projections
(map-side, zero shuffle, embarrassingly parallel over parquet row
groups at 100 TB); the corpus-relative operators shuffle only
key-value granularity, never document text.

Per-document (map-side):

* ``language_id``      — n-gram lexicon heuristic: score each candidate
  language by stopword hits, argmax with a deterministic tiebreak.
* ``quality_score``    — length / punctuation / stopword-ratio features
  combined into one bounded score; optionally appends the repetition
  features below in the same projection.
* ``repetition_metrics`` — Gopher-style repetition filters: duplicate
  word fraction, duplicate word-bigram fraction, top-word fraction.
* ``token_counts``     — whitespace tokens plus a BPE-ish regex token
  count (letter runs, digit runs, single punctuation marks).
* ``redact_pii``       — mask emails / IPv4s / SSN- and phone-shaped
  numbers with typed placeholders, with per-type match counts.
* ``blocked_term_fraction`` — C4-style bad-words gate: whole-word
  hits against a literal blocklist, fraction per document.
* ``chunk_documents``  — sliding/tiling word windows (training-prep
  chunking; the cut-long complement of ``pack_sequences``).
* ``linear_text_score`` — apply a pretrained linear (fastText-style)
  classifier: literal-map projection for small vocabularies, measured
  adaptive join for large ones.

Corpus-relative (word/line-keyed aggregation + broadcast back):

* ``doc_fingerprints`` — bottom-k sketch of md5 shingle hashes (a
  winnowing-style content fingerprint; equal fingerprints => likely
  near-identical content).
* ``unigram_logprob_score`` — mean unigram-LM log-probability per
  document (the CCNet-style perplexity quality signal); ``bigram_``
  and stupid-backoff ``trigram_logprob_score`` are the word-order
  rungs above it.
* ``perplexity_buckets`` — CCNet head/middle/tail tiers from exact
  score quantiles (map-side CASE against collected cut scalars).
* ``strip_boilerplate_lines`` — cross-document line-level dedup.

Each has an exact DuckDB oracle; regexes are limited to constructs with
identical Java-regex / RE2 semantics (character classes, +).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

def _codepoint_class(ranges: list[tuple[int, int]]) -> str:
    """Regex character-class body for codepoint ranges, written as
    LITERAL characters (``一-龥``) rather than ``\\x{...}`` or
    ``\\p{script=...}`` escapes — literal ranges are the one spelling
    that is valid, and means the same thing, in Java regex (Spark),
    RE2 (the DuckDB oracles), and Python ``re`` (the replica tests),
    and they survive SQL string literals with no escaping rules."""
    return "".join(f"{chr(a)}-{chr(b)}" for a, b in ranges)


#: Unicode ranges of the SPACE-FREE scripts — writing systems with no
#: word-separating spaces, where the engine's whitespace "word"
#: definition would otherwise see an entire document as one word
#: (pathological mean word length, token count 1, no language signal).
#: Han (CJK Unified + Ext A + compatibility), Hiragana, Katakana
#: (+ phonetic extensions), Thai.
_SPACEFREE_RANGES: list[tuple[int, int]] = [
    (0x3041, 0x309F),  # Hiragana
    (0x30A0, 0x30FF),  # Katakana (incl. ー)
    (0x31F0, 0x31FF),  # Katakana phonetic extensions
    (0x3400, 0x4DBF),  # CJK Extension A
    (0x4E00, 0x9FFF),  # CJK Unified Ideographs
    (0xF900, 0xFAFF),  # CJK Compatibility Ideographs
    (0x0E01, 0x0E5B),  # Thai
]

#: Character class matching ONE space-free-script character.
SPACEFREE_CLASS = f"[{_codepoint_class(_SPACEFREE_RANGES)}]"

#: Python twins of the :func:`segmented_text_sql` regex passes —
#: literal codepoint ranges mean the same thing in Java regex and
#: Python ``re`` (the :func:`_codepoint_class` contract), so the
#: vectorized language-ID kernel segments byte-identically to the
#: expression path.
_SEGMENT_RE = re.compile(f"({SPACEFREE_CLASS})")
_SPACE_RUN_RE = re.compile("  +")

#: Hangul ranges — Korean is NOT space-free (words are space-
#: separated), so Hangul is excluded from segmentation; the ranges
#: exist for :func:`script_fractions`' per-script audit columns.
_HANGUL_RANGES: list[tuple[int, int]] = [
    (0x1100, 0x11FF),
    (0x3130, 0x318F),
    (0xAC00, 0xD7AF),
]

#: Valid ``segmentation=`` modes for the word-based operators
#: (:func:`quality_score`, :func:`token_counts`,
#: :func:`chunk_documents`, :func:`repetition_metrics`).
SEGMENTATION_MODES = ("whitespace", "script")


def segmented_text_sql(text_col: str) -> str:
    """SQL for ``text_col`` with every space-free-script character
    isolated as its own whitespace-delimited token, runs of spaces
    collapsed and ends trimmed (the canonical segmented form — spaced
    and continuous spellings of the same CJK text converge to one
    string). On SINGLE-SPACED text containing no space-free-script
    characters the whole pipeline is an exact no-op; the character
    substitution itself never fires on such text, while the
    collapse/trim passes canonicalize multi-space runs and dangling
    ends wherever they appear (so irregularly-spaced Latin text gets
    the canonical spelling too — a deliberate normalization, not a
    leak). "Script" segmentation is therefore SELF-SELECTING per
    character: single-spaced Latin corpora keep their whitespace
    words bit-for-bit while zh/ja/th spans decompose per character
    (the standard character-as-word proxy for Han — each ideograph is
    a morpheme — and a deterministic counting proxy for Kana/Thai).
    Three chained ``regexp_replace``/``trim`` passes — map-side,
    whole-stage-codegen, no Python."""
    seg = f"regexp_replace({text_col}, '({SPACEFREE_CLASS})', ' $1 ')"
    return f"trim(regexp_replace({seg}, '  +', ' '))"


def _words_sql(text_col: str, segmentation: str) -> str:
    """SQL for the lowercased word array under the named segmentation
    mode. ``"whitespace"`` is the engine's historical definition
    (single-space split, empties kept — every pinned oracle hash was
    computed over it, so it must stay bit-identical); ``"script"``
    splits the canonical segmented form and drops empty tokens (the
    canonical form cannot produce them except for empty text)."""
    if segmentation not in SEGMENTATION_MODES:
        raise ValueError(
            f"unknown segmentation mode {segmentation!r}; "
            f"expected one of {SEGMENTATION_MODES}"
        )
    if segmentation == "script":
        # the canonical form's collapse/trim passes only create or
        # remove EMPTY tokens, and this path filters empties anyway —
        # one regexp pass instead of three for every word-array
        # consumer (identical values; the STREAM consumers in the
        # ngram/model rungs keep the full canonical string, where the
        # spacing itself is signal)
        seg = (
            f"regexp_replace(lower({text_col}),"
            f" '({SPACEFREE_CLASS})', ' $1 ')"
        )
        return f"filter(split({seg}, ' '), w -> w != '')"
    return f"split(lower({text_col}), ' ')"



def token_count_expr(
    token_col: str | None, text_col: str, segmentation: str = "whitespace"
):
    """The ONE token-accounting Column shared by the packing tape,
    the shard manifests, and the mixture domain totals (round-9
    review: three verbatim copies of this branch had already grown —
    desynchronized accounting is exactly the inconsistency class the
    segmentation work fixes). ``token_col`` (a precomputed count)
    wins; otherwise whitespace split arity, or the script-segmented
    word count under ``segmentation="script"`` (a zh/ja/th document
    is ONE whitespace token — budgets under-count it by its whole
    length)."""
    if token_col:
        return F.col(token_col).cast("long")
    if segmentation == "script":
        return F.expr(f"size({_words_sql(text_col, 'script')})").cast(
            "long"
        )
    return F.size(F.split(F.lower(F.col(text_col)), " ")).cast("long")


# Tiny per-language function-word lexicons (public common stopwords;
# zh/ja/th entries are single characters — the tokens the script
# segmentation produces; ko entries are whole words, Korean being a
# spaced script).
LANG_LEXICON: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "fr": ["le", "la", "de", "et", "un", "une", "est"],
    "es": ["el", "la", "de", "y", "un", "una", "es"],
    "de": ["der", "die", "das", "und", "ein", "ist", "zu"],
    "zh": ["的", "是", "不", "了", "在", "我", "有"],
    "ja": ["の", "に", "は", "を", "た", "が", "で"],
    "ko": ["이", "그", "것", "수", "있다", "하다", "저"],
    "th": ["า", "น", "ร", "เ", "ก", "อ", "ง"],
}

#: Wider per-language function-word lists (public common stopwords)
#: feeding the character-trigram profiles of :func:`language_id_ngram`.
#: Declaration order is the deterministic tiebreak order.
LANG_FUNCTION_WORDS: dict[str, list[str]] = {
    "en": ["the", "a", "an", "of", "and", "to", "in", "is", "that", "it",
           "for", "on", "with", "as", "this", "was", "are", "be", "at",
           "by", "not", "from", "but", "have", "you", "we", "they",
           "his", "her", "which"],
    "fr": ["le", "la", "les", "de", "des", "du", "et", "un", "une",
           "est", "que", "qui", "dans", "pour", "pas", "sur", "avec",
           "par", "mais", "son", "ses", "nous", "vous", "ils", "elle",
           "sont", "plus", "ce", "cette", "aux"],
    "es": ["el", "la", "los", "las", "de", "del", "y", "un", "una",
           "es", "que", "en", "no", "por", "con", "para", "su", "sus",
           "se", "lo", "como", "pero", "este", "esta", "son", "fue",
           "ser", "al", "hay", "muy"],
    "de": ["der", "die", "das", "und", "ein", "eine", "ist", "zu",
           "den", "dem", "des", "nicht", "mit", "auf", "von", "im",
           "sich", "auch", "als", "an", "es", "sind", "war", "wird",
           "bei", "aus", "nach", "oder", "wie", "einem"],
    "it": ["il", "lo", "la", "gli", "le", "di", "del", "della", "e",
           "un", "una", "che", "in", "non", "per", "con", "su", "si",
           "come", "ma", "anche", "sono", "era", "questo", "questa",
           "al", "dal", "nel", "della", "degli"],
    "pt": ["o", "os", "as", "de", "do", "da", "dos", "das", "e", "um",
           "uma", "que", "em", "por", "com", "para", "se", "mais",
           "como", "mas", "foi", "ser", "ao", "pelo", "pela", "este",
           "esta", "os", "uns", "umas"],
    "nl": ["de", "het", "een", "en", "van", "is", "in", "op", "te",
           "dat", "die", "niet", "met", "voor", "aan", "als", "er",
           "maar", "om", "ook", "bij", "uit", "naar", "zijn", "was",
           "wordt", "deze", "dit", "over", "hebben"],
    "sv": ["och", "att", "det", "som", "en", "ett", "är", "av",
           "för", "inte", "den", "till", "på", "med", "han", "hon",
           "de", "vi", "om", "men", "var", "sig", "från", "eller",
           "vad", "nu", "under", "också", "efter", "vid"],
    "da": ["og", "at", "det", "som", "en", "et", "er", "af", "for",
           "ikke", "den", "til", "på", "med", "han", "hun", "de",
           "vi", "om", "men", "var", "sig", "fra", "eller", "hvad",
           "nu", "under", "også", "efter", "ved"],
    "pl": ["i", "w", "nie", "na", "się", "z", "do", "to", "że",
           "jest", "jak", "po", "co", "tak", "ale", "od", "za",
           "przez", "czy", "być", "ma", "już", "tylko", "przy",
           "może", "bardzo", "kiedy", "gdzie", "dla", "przed"],
    "tr": ["bir", "ve", "bu", "da", "de", "için", "ile", "ne",
           "gibi", "daha", "çok", "ama", "ben", "sen", "biz", "var",
           "yok", "en", "kadar", "sonra", "her", "ki", "diye",
           "olarak", "ancak", "bütün", "şey", "şimdi", "nasıl",
           "çünkü"],
    # Space-free scripts (round 9): zh/ja/th entries are single
    # characters — the exact tokens script segmentation emits, so the
    # padded profile trigram ' X ' matches the segmented stream; ja is
    # kana-led (hiragana is Japanese-exclusive; Han alone would
    # collide with zh). ko is a spaced script, so its entries are
    # whole words like every other spaced language. All from public
    # character/word frequency lists.
    "zh": ["的", "一", "是", "不", "了", "人", "我", "在", "有", "他",
           "这", "中", "大", "来", "上", "国", "个", "到", "说", "们",
           "为", "子", "和", "你", "地", "出", "道", "也", "时", "年",
           "得", "就", "那", "要", "下", "以", "生", "会", "自", "着"],
    "ja": ["の", "に", "は", "を", "た", "が", "で", "て", "と", "し",
           "れ", "さ", "あ", "る", "い", "う", "か", "き", "こ", "す",
           "ま", "な", "ん", "も", "よ", "ら", "り", "っ", "へ", "ね",
           "わ", "け", "ど", "そ", "み", "ち", "や", "だ", "ろ", "え"],
    "ko": ["이", "그", "저", "것", "수", "있다", "없다", "하다",
           "되다", "같다", "보다", "때", "사람", "우리", "자신",
           "당신", "무엇", "어떤", "모든", "다른", "많은", "좋은",
           "오늘", "지금", "여기", "거기", "누구", "하나", "정말",
           "함께"],
    "th": ["า", "น", "ร", "เ", "ก", "อ", "ง", "ม", "ย", "ล", "ว",
           "ส", "ด", "ท", "ต", "ห", "ป", "จ", "แ", "บ", "ค", "ช",
           "พ", "ใ", "ไ", "้", "่", "ี", "ิ", "ั"],
}


def _trigram_profile(words: list[str]) -> list[str]:
    """Sorted character trigrams of space-padded words — padding keeps
    the word-boundary trigrams (' le', 'le ') that carry most of the
    language signal (the Cavnar & Trenkle 1994 n-gram-profile
    observation)."""
    tris: set[str] = set()
    for w in words:
        s = f" {w} "
        for i in range(len(s) - 2):
            tris.add(s[i : i + 3])
    return sorted(tris)


#: lang -> sorted trigram membership profile (a few hundred entries per
#: language); shared verbatim by the DuckDB oracle in
#: tests/test_registry.py so implementation and oracle agree on the
#: profile by construction.
LANG_TRIGRAM_PROFILES: dict[str, list[str]] = {
    lang: _trigram_profile(ws) for lang, ws in LANG_FUNCTION_WORDS.items()
}



#: The distilled TRAINED language-ID model (third rung): one-vs-rest
#: logistic weights over character-trigram features, 15 languages
#: (round 9: en/fr/es/de/it/pt/nl/sv/da/pl/tr + the space-free-script
#: inventory zh/ja/ko/th over the script-segmented gram stream).
#: Budget-allocated distillation: 160 features per Latin language +
#: 32 per space-free-script language (1,888 total — inside
#: :data:`MAX_LITERAL_FEATURES`; the allocation chosen by the
#: measured eval sweep in ``scripts/make_pinned_langid.py`` — script
#: grams are categorically separable, so zh/ja/ko/th saturate small
#: and the surplus goes to the confusable Latin block).
#: {lang: (bias, {feature: weight})}; feature tokens are
#: ``char_ngram_text_sql`` trigrams (spaces rendered ``▁``), weights
#: rounded to 6 decimals. Trained in-engine by
#: ``training.train_language_classifier`` on the deterministic
#: function-word + common-word corpus and distilled by
#: ``training.top_features`` — regenerate with
#: ``scripts/make_pinned_langid.py``. Shared verbatim by the DuckDB
#: oracle in tests/test_registry.py (the LANG_TRIGRAM_PROFILES
#: convention), so implementation and oracle agree on the model by
#: construction.
PINNED_LANGID_MODEL = {'da': (-2.658472,
        {'af▁': 0.122313,
         'and': 0.13713,
         'arb': 0.079749,
         'as▁': -0.133999,
         'bej': 0.094759,
         'bor': 0.094956,
         'bør': 0.126401,
         'dde': 0.100974,
         'den': 0.123433,
         'der': 0.26462,
         'det': 0.086224,
         'de▁': 0.240789,
         'd▁a': 0.209948,
         'd▁f': 0.092239,
         'd▁s': 0.076906,
         'd▁v': 0.084423,
         'edd': 0.100974,
         'ede': 0.102815,
         'ed▁': 0.175549,
         'ege': 0.178713,
         'ejd': 0.094759,
         'enn': 0.157423,
         'en▁': 0.091266,
         'er▁': 1.298502,
         'esk': 0.092033,
         'es▁': -0.090149,
         'et▁': 0.275349,
         'e▁k': 0.080471,
         'e▁m': 0.138069,
         'for': 0.10802,
         'f▁o': 0.10591,
         'ged': 0.102815,
         'ger': 0.145539,
         'get': 0.11228,
         'gge': 0.102815,
         'giv': 0.099246,
         'går': 0.101242,
         'gør': 0.114183,
         'g▁e': 0.107082,
         'han': 0.099278,
         'hed': 0.097867,
         'hun': 0.112357,
         'hus': 0.120263,
         'ide': 0.101772,
         'id▁': 0.112743,
         'igg': 0.102815,
         'ig▁': 0.122469,
         'ikk': 0.108187,
         'ill': 0.125853,
         'il▁': 0.096267,
         'ing': 0.138729,
         'ive': 0.11256,
         'i▁g': 0.079249,
         'jde': 0.094759,
         'ker': 0.126219,
         'ke▁': 0.108187,
         'kig': 0.102815,
         'kke': 0.108187,
         'kom': 0.086506,
         'leg': 0.104688,
         'le▁': 0.128437,
         'lle': 0.167215,
         'læs': 0.1059,
         'l▁h': 0.07552,
         'med': 0.095993,
         'men': 0.190098,
         'mer': 0.122124,
         'mme': 0.17274,
         'm▁t': 0.10474,
         'm▁v': 0.075809,
         'nde': 0.118544,
         'nd▁': 0.102491,
         'ner': 0.074097,
         'nes': 0.092033,
         'ng▁': 0.114993,
         'nne': 0.136441,
         'no▁': -0.078124,
         'n▁b': 0.172331,
         'n▁g': 0.153968,
         'omm': 0.133934,
         'om▁': 0.174859,
         'ord': 0.091041,
         'or▁': 0.112596,
         'os▁': -0.099697,
         'på▁': 0.093663,
         'rbe': 0.079749,
         'rd▁': 0.106286,
         'rn▁': 0.117048,
         'r▁d': 0.22336,
         'r▁h': 0.137171,
         'r▁i': 0.074537,
         'r▁l': 0.108984,
         'r▁o': 0.117622,
         'r▁p': 0.081072,
         'r▁s': 0.179331,
         'r▁t': 0.161118,
         'r▁v': 0.403291,
         'ser': 0.07506,
         'sig': 0.072984,
         'ske': 0.092033,
         'som': 0.148773,
         's▁a': -0.082363,
         's▁d': -0.073219,
         's▁e': 0.087792,
         'ter': 0.091981,
         'te▁': -0.090322,
         'tid': 0.116669,
         'til': 0.090194,
         'tin': 0.171329,
         't▁h': 0.089462,
         't▁å': 0.090756,
         'un▁': 0.088674,
         'us▁': 0.085799,
         'van': 0.116364,
         'ver': 0.116983,
         'vid': 0.097847,
         'vil': 0.097697,
         'vi▁': 0.100154,
         'yor': -0.072872,
         'år▁': 0.20768,
         'å▁k': 0.089126,
         'æse': 0.1059,
         'ørn': 0.126401,
         'ør▁': 0.114183,
         '▁af': 0.122313,
         '▁at': 0.074783,
         '▁bo': 0.094956,
         '▁bø': 0.126401,
         '▁co': -0.111197,
         '▁da': -0.0826,
         '▁de': 0.174706,
         '▁en': 0.076654,
         '▁er': 0.114429,
         '▁et': 0.101935,
         '▁fo': 0.101975,
         '▁gi': 0.078688,
         '▁gå': 0.101242,
         '▁gø': 0.114183,
         '▁ha': 0.076115,
         '▁hu': 0.224617,
         '▁ik': 0.108187,
         '▁ki': 0.077665,
         '▁ko': 0.079106,
         '▁læ': 0.1059,
         '▁me': 0.316024,
         '▁og': 0.129593,
         '▁om': 0.087757,
         '▁or': 0.110502,
         '▁på': 0.093663,
         '▁sk': 0.106368,
         '▁so': 0.121495,
         '▁ti': 0.255952,
         '▁va': 0.156981,
         '▁ve': 0.08744,
         '▁vi': 0.299726,
         '▁år': 0.106438,
         '▁น▁': -0.117047,
         '▁เ▁': -0.090124,
         '▁่▁': -0.074245,
         '▁る▁': -0.086226}),
 'de': (-2.650051,
        {'ach': 0.139525,
         'ahr': 0.099017,
         'als': 0.14565,
         'arb': 0.073367,
         'ass': 0.097288,
         'auc': 0.091279,
         'auf': 0.137952,
         'aus': 0.146167,
         'aut': 0.086509,
         'bei': 0.149741,
         'ben': 0.21315,
         'cha': 0.08228,
         'cht': 0.195186,
         'ch▁': 0.221357,
         'das': 0.078972,
         'dem': 0.093586,
         'den': 0.104603,
         'der': 0.229415,
         'des': 0.083492,
         'die': 0.075532,
         'din': 0.084034,
         'd▁d': 0.086967,
         'ebe': 0.181379,
         'ehe': 0.092432,
         'ein': 0.291593,
         'eis': 0.089307,
         'eit': 0.159863,
         'em▁': 0.105505,
         'en▁': 0.793489,
         'er▁': 0.144931,
         'ese': 0.092464,
         'es▁': 0.091432,
         'eun': 0.077209,
         'eut': 0.085329,
         'e▁d': 0.149245,
         'e▁e': 0.072768,
         'e▁u': 0.087275,
         'fre': 0.077209,
         'f▁w': 0.079466,
         'geb': 0.091026,
         'geh': 0.092432,
         'ge▁': 0.099287,
         'hau': 0.188052,
         'hei': 0.089307,
         'hen': 0.181304,
         'hre': 0.145343,
         'ht▁': 0.082279,
         'h▁g': 0.079835,
         'h▁k': 0.080368,
         'ich': 0.283449,
         'iel': 0.089021,
         'ie▁': 0.09473,
         'im▁': 0.092915,
         'ind': 0.162545,
         'ine': 0.145914,
         'in▁': 0.119719,
         'iss': 0.17883,
         'ite': 0.08503,
         'it▁': 0.126538,
         'jah': 0.099017,
         'kin': 0.086595,
         'kt▁': 0.096161,
         'leb': 0.090353,
         'len': 0.08148,
         'les': 0.085606,
         'leu': 0.085329,
         'llt': 0.087397,
         'ls▁': 0.141234,
         'lte': 0.09091,
         'mac': 0.092613,
         'men': 0.083637,
         'mit': 0.089856,
         'mme': 0.206915,
         'm▁l': 0.074325,
         'm▁m': 0.075119,
         'nde': 0.244594,
         'nd▁': 0.158973,
         'ne▁': 0.075619,
         'nge': 0.078778,
         'ng▁': -0.078662,
         'nic': 0.132096,
         'no▁': -0.078341,
         'n▁a': 0.321378,
         'n▁d': 0.133791,
         'n▁k': 0.078658,
         'n▁n': 0.114967,
         'n▁s': 0.153807,
         'oll': 0.09091,
         'omm': 0.112435,
         'ort': 0.089589,
         'or▁': -0.122416,
         'os▁': -0.100179,
         'pie': 0.086754,
         'rbe': 0.073367,
         'reu': 0.077209,
         're▁': 0.109641,
         'rte': 0.089835,
         'r▁d': -0.070954,
         'r▁v': -0.080155,
         'r▁z': 0.138967,
         'sch': 0.246178,
         'sen': 0.161143,
         'sic': 0.091818,
         'sin': 0.077239,
         'spi': 0.094407,
         'sse': 0.186811,
         'sst': 0.089307,
         'st▁': 0.171949,
         's▁a': -0.082964,
         's▁i': 0.118109,
         's▁j': 0.082737,
         'tet': 0.088608,
         'te▁': 0.300724,
         't▁d': 0.110846,
         't▁e': 0.108098,
         't▁s': 0.073329,
         't▁w': 0.135036,
         'uch': 0.091279,
         'uf▁': 0.090652,
         'und': 0.169115,
         'us▁': 0.103828,
         'ute': 0.175448,
         'u▁w': 0.085239,
         'von': 0.080936,
         'was': 0.142674,
         'wis': 0.089523,
         'wol': 0.09091,
         'wor': 0.077503,
         'yor': -0.072776,
         'zei': 0.071255,
         'zu▁': 0.09756,
         '▁au': 0.222795,
         '▁be': 0.081967,
         '▁co': -0.111769,
         '▁de': 0.262154,
         '▁di': 0.148821,
         '▁ei': 0.239895,
         '▁ge': 0.195872,
         '▁im': 0.144337,
         '▁in': -0.070337,
         '▁is': 0.075208,
         '▁ja': 0.079002,
         '▁ki': 0.072352,
         '▁le': 0.198863,
         '▁me': -0.073872,
         '▁mi': 0.075301,
         '▁ni': 0.158105,
         '▁sc': 0.180445,
         '▁si': 0.136502,
         '▁sp': 0.082701,
         '▁vi': -0.097979,
         '▁wa': 0.123309,
         '▁wi': 0.211699,
         '▁wo': 0.143343,
         '▁ze': 0.071255,
         '▁zu': 0.144726,
         '▁น▁': -0.117436,
         '▁เ▁': -0.090424,
         '▁่▁': -0.074492,
         '▁る▁': -0.086514}),
 'en': (-2.636842,
        {'adi': 0.091785,
         'ake': 0.084454,
         'all': 0.081518,
         'ant': 0.086665,
         'are': 0.095541,
         'ars': 0.100826,
         'ar▁': -0.105509,
         'ate': 0.08675,
         'at▁': 0.185135,
         'ayi': 0.094142,
         'be▁': 0.105551,
         'by▁': 0.100425,
         'cal': 0.091552,
         'chi': 0.087149,
         'de▁': -0.10047,
         'dre': 0.09859,
         'ds▁': 0.161143,
         'd▁c': 0.086263,
         'd▁t': 0.122305,
         'd▁w': 0.077039,
         'ead': 0.091785,
         'ear': 0.100826,
         'ed▁': 0.330802,
         'en▁': -0.261976,
         'eop': 0.085652,
         'es▁': 0.30044,
         'eth': 0.087799,
         'e▁a': 0.159351,
         'e▁g': 0.079912,
         'for': 0.082532,
         'fro': 0.077636,
         'f▁t': 0.08866,
         'ght': 0.086472,
         'giv': 0.09725,
         'goi': 0.097367,
         'gs▁': 0.100978,
         'g▁f': 0.146932,
         'g▁i': 0.08152,
         'g▁o': 0.079825,
         'g▁w': 0.131105,
         'hat': 0.095296,
         'her': 0.135125,
         'hil': 0.09859,
         'hin': 0.205559,
         'his': 0.134902,
         'hou': 0.146973,
         'ht▁': 0.079579,
         'h▁l': 0.080921,
         'ild': 0.090501,
         'ing': 0.825346,
         'is▁': 0.215306,
         'ith': 0.092095,
         'ivi': 0.09125,
         'ked': 0.087902,
         'kes': 0.10122,
         'kno': 0.102805,
         'ks▁': 0.097211,
         'lay': 0.094142,
         'ldr': 0.090551,
         'led': 0.091552,
         'liv': 0.09125,
         'loo': 0.092917,
         'mak': 0.09312,
         'mes': 0.104892,
         'mor': 0.080095,
         'ngs': 0.100978,
         'ng▁': 0.756106,
         'nin': 0.187478,
         'not': 0.192444,
         'now': 0.102805,
         'no▁': -0.078468,
         'nte': 0.117957,
         'n▁c': 0.080112,
         'n▁y': 0.085158,
         'of▁': 0.101965,
         'oin': 0.097367,
         'oke': 0.092917,
         'ome': 0.127463,
         'ook': 0.085434,
         'opl': 0.085652,
         'ork': 0.097211,
         'orn': 0.080095,
         'os▁': -0.100638,
         'oth': 0.108924,
         'ot▁': 0.079996,
         'oug': 0.086472,
         'ous': 0.088011,
         'ows': 0.102805,
         'o▁h': 0.08295,
         'peo': 0.085652,
         'pla': 0.094142,
         'ple': 0.085652,
         'rds': 0.096775,
         'rea': 0.091785,
         'rie': 0.091718,
         'rks': 0.097211,
         'rni': 0.080095,
         'rom': 0.077636,
         'rs▁': 0.096877,
         'r▁v': -0.079337,
         's▁a': 0.207428,
         's▁b': 0.182083,
         's▁g': 0.080303,
         's▁h': 0.082874,
         's▁o': 0.089647,
         's▁t': 0.078076,
         's▁w': 0.154923,
         'ted': 0.129326,
         'ter': 0.112183,
         'te▁': -0.09009,
         'tha': 0.095296,
         'the': 0.212204,
         'thi': 0.301068,
         'th▁': 0.092095,
         'to▁': 0.077571,
         't▁k': 0.076927,
         't▁r': 0.080341,
         'ugh': 0.086472,
         'use': 0.099494,
         'ves': 0.105564,
         'vin': 0.083268,
         'wan': 0.09462,
         'was': 0.081886,
         'wat': 0.090588,
         'wit': 0.092095,
         'wor': 0.182523,
         'ws▁': 0.102805,
         'yea': 0.100826,
         'yin': 0.094142,
         'y▁w': 0.081208,
         '▁an': 0.164352,
         '▁as': 0.08189,
         '▁at': 0.091057,
         '▁a▁': 0.083096,
         '▁be': 0.077891,
         '▁by': 0.094191,
         '▁da': -0.082796,
         '▁de': -0.164085,
         '▁fr': 0.125821,
         '▁go': 0.097367,
         '▁ho': 0.090522,
         '▁it': 0.092964,
         '▁kn': 0.102805,
         '▁le': -0.089207,
         '▁li': 0.117141,
         '▁no': 0.112337,
         '▁of': 0.101965,
         '▁on': 0.09154,
         '▁pl': 0.090223,
         '▁st': 0.087847,
         '▁th': 0.459324,
         '▁to': 0.128355,
         '▁vi': -0.097365,
         '▁wa': 0.309485,
         '▁wi': 0.120745,
         '▁wo': 0.150904,
         '▁ye': 0.100826,
         '▁น▁': -0.118064,
         '▁เ▁': -0.090907,
         '▁る▁': -0.086978}),
 'es': (-2.644045,
        {'aba': 0.183385,
         'abe': 0.087953,
         'abr': 0.103914,
         'ace': 0.094261,
         'agu': 0.100612,
         'aja': 0.090528,
         'ala': 0.095971,
         'ama': 0.071664,
         'ami': 0.10466,
         'amo': 0.073054,
         'ano': 0.13341,
         'an▁': 0.090571,
         'ara': 0.081988,
         'ar▁': -0.105221,
         'asa': 0.094561,
         'as▁': 0.27778,
         'a▁c': 0.137536,
         'a▁e': 0.091841,
         'a▁h': 0.081615,
         'a▁j': 0.090235,
         'a▁n': 0.073112,
         'a▁p': 0.086097,
         'a▁u': 0.094194,
         'a▁y': 0.097194,
         'baj': 0.090528,
         'ba▁': 0.099894,
         'ber': 0.079988,
         'bra': 0.103914,
         'cas': 0.086382,
         'cem': 0.094261,
         'con': 0.088009,
         'cos': 0.097903,
         'dan': 0.076009,
         'del': 0.091724,
         'do▁': 0.11959,
         'een': 0.097866,
         'ega': 0.086503,
         'el▁': 0.164787,
         'emo': 0.086958,
         'emp': 0.153402,
         'ene': 0.096026,
         'en▁': 0.190611,
         'eri': 0.081982,
         'ero': 0.073556,
         'er▁': -0.203233,
         'esc': 0.099061,
         'est': 0.074091,
         'et▁': -0.092762,
         'e▁n': 0.139142,
         'e▁v': 0.074559,
         'gan': 0.103931,
         'gua': 0.093751,
         'hac': 0.094261,
         'ia▁': 0.084659,
         'iem': 0.115961,
         'ien': 0.120041,
         'ina': 0.101822,
         'ing': -0.117357,
         'ino': 0.111543,
         'ira': 0.099894,
         'ja▁': 0.090528,
         'jue': 0.103931,
         'lab': 0.103914,
         'lam': 0.103999,
         'las': 0.109565,
         'la▁': 0.096322,
         'lee': 0.096571,
         'le▁': -0.10911,
         'lla': 0.085373,
         'los': 0.092631,
         'lo▁': 0.077503,
         'l▁c': 0.144841,
         'min': 0.097904,
         'mir': 0.099894,
         'mos': 0.173752,
         'na▁': 0.137515,
         'ndo': 0.082555,
         'nen': 0.072849,
         'ng▁': -0.078154,
         'nin': 0.096323,
         'nos': 0.210145,
         'no▁': 0.202069,
         'n▁e': 0.124458,
         'n▁l': 0.085635,
         'n▁p': 0.09159,
         'n▁q': 0.091334,
         'n▁v': 0.113796,
         'omo': 0.070778,
         'on▁': 0.102718,
         'osa': 0.106582,
         'os▁': 0.573724,
         'o▁e': 0.10784,
         'o▁m': 0.084189,
         'o▁s': 0.1035,
         'o▁t': 0.075428,
         'pal': 0.095971,
         'par': 0.072218,
         'pie': 0.091205,
         'por': 0.082788,
         'que': 0.214599,
         'rab': 0.183385,
         'ras': 0.095971,
         'ria': 0.135825,
         'ro▁': 0.116183,
         'r▁d': -0.070438,
         'r▁q': 0.077633,
         'r▁v': -0.079008,
         'sab': 0.087953,
         'sas': 0.102759,
         'sa▁': 0.131862,
         'sus': 0.096597,
         'su▁': 0.08073,
         's▁a': 0.071634,
         's▁c': 0.085202,
         's▁d': 0.227596,
         's▁l': 0.164161,
         's▁p': 0.121621,
         's▁s': 0.106543,
         's▁u': 0.08293,
         'te▁': 0.072197,
         'tie': 0.07522,
         'tra': 0.12217,
         'ua▁': 0.092883,
         'ueg': 0.103931,
         'uer': 0.08819,
         'ue▁': 0.134424,
         'una': 0.096378,
         'un▁': 0.082056,
         'u▁v': 0.077782,
         'vam': 0.086794,
         'vie': 0.138923,
         'viv': 0.081858,
         'yor': -0.072745,
         'y▁a': 0.096041,
         '▁ag': 0.100612,
         '▁ca': 0.130823,
         '▁co': 0.257237,
         '▁de': 0.074523,
         '▁es': 0.292142,
         '▁ha': 0.116238,
         '▁ju': 0.146159,
         '▁la': 0.160385,
         '▁ll': 0.103999,
         '▁lo': 0.167536,
         '▁ma': -0.115647,
         '▁mi': 0.086054,
         '▁pa': 0.149635,
         '▁pe': 0.083386,
         '▁po': 0.073129,
         '▁qu': 0.152495,
         '▁se': 0.112403,
         '▁su': 0.166716,
         '▁tr': 0.12217,
         '▁un': 0.160057,
         '▁vi': 0.117873,
         '▁y▁': 0.110518,
         '▁น▁': -0.117718,
         '▁เ▁': -0.090641,
         '▁่▁': -0.074671,
         '▁る▁': -0.086723}),
 'fr': (-2.637415,
        {'ail': 0.08625,
         'ais': 0.329381,
         'ait': 0.081914,
         'all': 0.071902,
         'ann': 0.086236,
         'ans': 0.080049,
         'ant': 0.094177,
         'an▁': -0.076464,
         'app': 0.130677,
         'arc': 0.115586,
         'ard': 0.072025,
         'au▁': 0.107976,
         'ave': 0.078593,
         'avo': 0.078295,
         'ce▁': 0.102244,
         'che': 0.088122,
         'cho': 0.084545,
         'c▁v': 0.072494,
         'des': 0.093735,
         'de▁': 0.097232,
         'don': 0.084586,
         'du▁': 0.103351,
         'eau': 0.107976,
         'ec▁': 0.082761,
         'ees': 0.099363,
         'ell': 0.13161,
         'enf': 0.101596,
         'ens': 0.162984,
         'ent': 0.493028,
         'en▁': -0.315336,
         'er▁': -0.29949,
         'es▁': 0.475189,
         'e▁c': 0.095731,
         'e▁e': 0.077949,
         'e▁j': 0.085514,
         'e▁m': 0.077716,
         'e▁p': 0.106714,
         'e▁s': 0.07449,
         'e▁v': 0.121029,
         'fai': 0.082975,
         'fan': 0.101596,
         'gar': 0.08278,
         'hos': 0.100504,
         'ien': 0.104965,
         'ing': -0.117749,
         'ir▁': 0.076101,
         'ise': 0.094548,
         'iso': 0.187696,
         'is▁': 0.183885,
         'it▁': 0.101771,
         'ive': 0.153069,
         'jou': 0.151737,
         'lai': 0.081914,
         'les': 0.080154,
         'le▁': 0.3431,
         'lis': 0.094548,
         'lle': 0.20156,
         'llo': 0.082566,
         'lon': 0.082566,
         'mai': 0.240913,
         'mar': 0.087625,
         'mis': 0.077682,
         'mot': 0.106358,
         'mps': 0.072063,
         'nee': 0.099363,
         'ne▁': 0.17343,
         'nfa': 0.101596,
         'ng▁': -0.078601,
         'nne': 0.237982,
         'nou': 0.078515,
         'no▁': -0.07912,
         'nse': 0.087629,
         'ns▁': 0.328336,
         'nts': 0.101596,
         'nt▁': 0.564763,
         'n▁m': 0.07939,
         'n▁t': 0.097591,
         'oir': 0.146387,
         'onn': 0.084586,
         'ons': 0.165541,
         'on▁': 0.141564,
         'or▁': -0.121868,
         'ose': 0.091838,
         'os▁': -0.101552,
         'ots': 0.106358,
         'oue': 0.101106,
         'oul': 0.081914,
         'our': 0.190064,
         'ous': 0.138365,
         'pas': 0.082357,
         'pou': 0.082128,
         'ppe': 0.084353,
         'ps▁': 0.072063,
         'que': 0.157101,
         'qui': 0.086078,
         'rav': 0.08625,
         'rch': 0.115586,
         'rde': 0.075051,
         'reg': 0.08278,
         'r▁f': 0.072501,
         'sav': 0.085301,
         'ses': 0.176702,
         'son': 0.308647,
         'st▁': 0.075803,
         'sur': 0.082771,
         's▁a': 0.237551,
         's▁d': 0.21071,
         's▁e': 0.175218,
         's▁l': 0.1821,
         's▁r': 0.072513,
         's▁s': 0.120836,
         's▁u': 0.085572,
         'ts▁': 0.194854,
         't▁a': 0.094322,
         't▁c': 0.080324,
         't▁e': 0.168158,
         't▁p': 0.137897,
         't▁q': 0.156684,
         'uen': 0.091658,
         'ue▁': 0.128519,
         'ui▁': 0.086078,
         'ula': 0.081914,
         'une': 0.103857,
         'un▁': 0.082903,
         'ur▁': 0.164899,
         'us▁': 0.158073,
         'u▁m': 0.086729,
         'u▁u': 0.09502,
         'vai': 0.08625,
         'vec': 0.082761,
         'ven': 0.098641,
         'voi': 0.085301,
         'vou': 0.149494,
         'yor': -0.072562,
         '▁ap': 0.130677,
         '▁au': 0.076441,
         '▁av': 0.073972,
         '▁ce': 0.106336,
         '▁du': 0.09695,
         '▁ea': 0.107976,
         '▁ec': 0.116214,
         '▁en': 0.103113,
         '▁et': 0.13776,
         '▁hi': 0.085713,
         '▁jo': 0.101106,
         '▁le': 0.078571,
         '▁li': 0.077116,
         '▁ma': 0.21331,
         '▁me': -0.073115,
         '▁mo': 0.095209,
         '▁pa': 0.116226,
         '▁qu': 0.190565,
         '▁so': 0.08808,
         '▁un': 0.161381,
         '▁vi': 0.08631,
         '▁vo': 0.127544,
         '▁น▁': -0.118035,
         '▁เ▁': -0.090885,
         '▁่▁': -0.074872,
         '▁る▁': -0.086957}),
 'it': (-2.63502,
        {'acc': 0.087415,
         'acq': 0.097791,
         'al▁': 0.094106,
         'amb': 0.105382,
         'amo': 0.159346,
         'and': 0.133714,
         'ann': 0.100717,
         'ano': 0.1158,
         'an▁': -0.076157,
         'ape': 0.090955,
         'ard': 0.076988,
         'aro': 0.094751,
         'ar▁': -0.105099,
         'asa': 0.085863,
         'as▁': -0.136168,
         'avo': 0.082643,
         'a▁a': 0.172053,
         'a▁d': 0.159229,
         'a▁e': 0.08196,
         'a▁i': 0.074739,
         'a▁l': 0.07926,
         'a▁n': 0.110813,
         'a▁p': 0.197691,
         'bam': 0.105382,
         'bin': 0.105382,
         'can': 0.09358,
         'cas': 0.077933,
         'cci': 0.087415,
         'che': 0.144294,
         'chi': 0.0775,
         'cia': 0.080456,
         'con': 0.079424,
         'cos': 0.159291,
         'cqu': 0.097791,
         'dav': 0.087413,
         'del': 0.232942,
         'de▁': -0.100514,
         'dia': 0.086675,
         'di▁': 0.093258,
         'egg': 0.091084,
         'ell': 0.121856,
         'el▁': 0.136262,
         'emp': 0.103377,
         'eng': 0.085904,
         'ent': 0.088784,
         'en▁': -0.366333,
         'ere': 0.075973,
         'er▁': -0.266122,
         'est': 0.125797,
         'es▁': -0.090741,
         'et▁': -0.092317,
         'eva': 0.086936,
         'e▁b': 0.082358,
         'e▁l': 0.142446,
         'e▁m': 0.091102,
         'e▁s': 0.076324,
         'fac': 0.087415,
         'ggo': 0.091084,
         'gio': 0.09358,
         'gli': 0.157682,
         'gon': 0.180738,
         'he▁': 0.157254,
         'hia': 0.089595,
         'iam': 0.263685,
         'ici': 0.075776,
         'ing': -0.117347,
         'ini': 0.195833,
         'ioc': 0.09358,
         'ivo': 0.138513,
         'i▁c': 0.182111,
         'i▁d': 0.171439,
         'i▁g': 0.083791,
         'i▁i': 0.096298,
         'lav': 0.08151,
         'la▁': 0.260727,
         'leg': 0.082452,
         'lev': 0.086936,
         'le▁': 0.108809,
         'li▁': 0.152739,
         'lla': 0.126118,
         'lo▁': 0.136176,
         'l▁a': 0.086343,
         'l▁s': 0.089012,
         'ma▁': 0.139811,
         'mbi': 0.105382,
         'me▁': 0.132003,
         'mic': 0.075776,
         'mo▁': 0.160913,
         'nch': 0.077305,
         'ndi': 0.082221,
         'ndo': 0.076256,
         'ngo': 0.089654,
         'ng▁': -0.078262,
         'ni▁': 0.213599,
         'nni': 0.102126,
         'non': 0.086932,
         'no▁': 0.607939,
         'nte': 0.101806,
         'n▁f': 0.075959,
         'oca': 0.09358,
         'ole': 0.171158,
         'ono': 0.447953,
         'on▁': 0.123479,
         'ora': 0.089322,
         'or▁': -0.122089,
         'ose': 0.102147,
         'os▁': -0.102203,
         'o▁c': 0.221733,
         'o▁d': 0.08225,
         'o▁g': 0.082524,
         'o▁q': 0.098108,
         'o▁s': 0.193803,
         'o▁u': 0.160903,
         'per': 0.172048,
         'qua': 0.155874,
         'ra▁': 0.124695,
         'rda': 0.087413,
         're▁': 0.109538,
         'rol': 0.094751,
         'r▁v': -0.078835,
         'sap': 0.090955,
         'sa▁': 0.18083,
         'se▁': 0.083792,
         'si▁': 0.090685,
         'sta': 0.09741,
         'sto': 0.080625,
         's▁a': -0.08374,
         's▁d': -0.07464,
         'ta▁': 0.078862,
         'te▁': 0.119683,
         'to▁': 0.088254,
         'uar': 0.087413,
         'ua▁': 0.081312,
         'ues': 0.107971,
         'una': 0.082735,
         'va▁': 0.166589,
         'vol': 0.086936,
         'von': 0.131376,
         'vor': 0.089322,
         '▁ac': 0.097791,
         '▁an': 0.205547,
         '▁ba': 0.077595,
         '▁ca': 0.117701,
         '▁ch': 0.142265,
         '▁co': 0.256232,
         '▁de': 0.145139,
         '▁e▁': 0.086536,
         '▁gl': 0.112351,
         '▁gu': 0.087413,
         '▁in': 0.176898,
         '▁la': 0.149389,
         '▁le': 0.124711,
         '▁pe': 0.081407,
         '▁qu': 0.116436,
         '▁sc': 0.081384,
         '▁un': 0.13137,
         '▁น▁': -0.118149,
         '▁เ▁': -0.090973,
         '▁่▁': -0.074944,
         '▁る▁': -0.087042}),
 'ja': (-2.621204,
        {'en▁': -0.364563,
         'er▁': -0.3578,
         '▁い▁': 0.33708,
         '▁え▁': 0.209614,
         '▁か▁': 0.200277,
         '▁が▁': 0.19738,
         '▁く▁': 0.343382,
         '▁こ▁': 0.357494,
         '▁さ▁': 0.241809,
         '▁し▁': 0.269211,
         '▁す▁': 0.213786,
         '▁た▁': 0.201945,
         '▁つ▁': 0.206571,
         '▁て▁': 0.277877,
         '▁で▁': 0.188328,
         '▁ぶ▁': 0.354351,
         '▁ま▁': 0.23799,
         '▁む▁': 0.462047,
         '▁も▁': 0.3824,
         '▁る▁': 1.115796,
         '▁を▁': 0.197515,
         '▁何▁': 0.193896,
         '▁供▁': 0.193042,
         '▁家▁': 0.201988,
         '▁水▁': 0.184284,
         '▁葉▁': 0.192852,
         '▁言▁': 0.192852,
         '▁遊▁': 0.183806,
         'る▁す': 0.192445,
         '子▁供': 0.193042,
         '言▁葉': 0.192852,
         '遊▁ぶ': 0.183806}),
 'ko': (-2.618066,
        {'en▁': -0.365006,
         'er▁': -0.358235,
         '▁것▁': 0.20336,
         '▁놀다': 0.186546,
         '▁말▁': 0.198775,
         '▁물▁': 0.204552,
         '▁보다': 0.341562,
         '▁사람': 0.342185,
         '▁수▁': 0.205748,
         '▁아이': 0.198404,
         '▁없다': 0.191949,
         '▁여기': 0.251207,
         '▁있다': 0.201014,
         '▁지금': 0.208105,
         '▁집▁': 0.205785,
         '▁하다': 0.35722,
         '▁함께': 0.191067,
         '금▁여': 0.187601,
         '기▁이': 0.210881,
         '놀다▁': 0.186546,
         '다▁보': 0.296975,
         '다▁하': 0.254307,
         '보다▁': 0.341562,
         '아이들': 0.198404,
         '없다▁': 0.191949,
         '여기▁': 0.251207,
         '이들▁': 0.198404,
         '있다▁': 0.201014,
         '지금▁': 0.208105,
         '집▁수': 0.181213,
         '하다▁': 0.56198,
         '함께▁': 0.191067}),
 'nl': (-2.656124,
        {'aan': 0.20865,
         'aar': 0.168257,
         'ake': 0.087423,
         'als': 0.09217,
         'an▁': 0.253416,
         'are': 0.090534,
         'ar▁': 0.075217,
         'ate': 0.089652,
         'at▁': 0.076917,
         'bij': 0.08136,
         'dat': 0.099572,
         'den': 0.19494,
         'der': 0.099116,
         'de▁': 0.089687,
         'die': 0.092686,
         'din': 0.083581,
         'd▁h': 0.074448,
         'eek': 0.103343,
         'een': 0.077546,
         'eet': 0.101933,
         'ein': 0.092723,
         'ek▁': 0.092273,
         'ele': 0.075117,
         'en▁': 1.525092,
         'ere': 0.136921,
         'erk': 0.094289,
         'es▁': -0.090924,
         'ete': 0.085752,
         'ets': 0.118944,
         'et▁': 0.326806,
         'eve': 0.092421,
         'eze': 0.148708,
         'e▁s': 0.126705,
         'e▁w': 0.078247,
         'gaa': 0.104653,
         'gev': 0.101248,
         'gt▁': 0.101906,
         'hee': 0.101933,
         'het': 0.077855,
         'hui': 0.101204,
         'iet': 0.219234,
         'ijd': 0.13121,
         'ij▁': 0.08136,
         'ild': 0.095875,
         'ind': 0.141631,
         'int': 0.075131,
         'in▁': 0.125995,
         'is▁': 0.156631,
         'it▁': 0.176854,
         'jar': 0.094107,
         'jd▁': 0.13121,
         'kee': 0.103343,
         'ken': 0.104189,
         'kin': 0.086945,
         'kom': 0.077936,
         'kt▁': 0.198866,
         'k▁v': 0.084921,
         'k▁w': 0.083333,
         'lde': 0.103692,
         'len': 0.152124,
         'lez': 0.099228,
         'le▁': -0.108639,
         'ls▁': 0.087787,
         'maa': 0.102204,
         'mak': 0.096317,
         'men': 0.194137,
         'met': 0.098769,
         'm▁w': 0.086765,
         'nde': 0.188628,
         'nen': 0.138018,
         'nge': 0.078284,
         'ng▁': -0.078742,
         'nie': 0.138507,
         'no▁': -0.078148,
         'nse': 0.078121,
         'n▁a': 0.082684,
         'n▁d': 0.343457,
         'n▁e': 0.197753,
         'n▁i': 0.126634,
         'n▁j': 0.085976,
         'n▁k': 0.078645,
         'n▁m': 0.075142,
         'n▁n': 0.074175,
         'n▁o': 0.208007,
         'n▁w': 0.122181,
         'ok▁': 0.083255,
         'ome': 0.133325,
         'one': 0.099586,
         'ook': 0.089038,
         'oor': 0.203342,
         'op▁': 0.100928,
         'ord': 0.12455,
         'os▁': -0.099671,
         'pel': 0.084701,
         'p▁w': 0.08831,
         'rde': 0.093587,
         'ren': 0.280071,
         'rkt': 0.154569,
         'r▁g': 0.077646,
         'r▁k': 0.083385,
         'r▁v': -0.080158,
         'r▁w': 0.180926,
         'sch': 0.090467,
         'spe': 0.099937,
         's▁h': 0.077425,
         's▁i': 0.079011,
         's▁m': 0.080083,
         'ten': 0.080663,
         'ter': 0.101017,
         'tij': 0.13121,
         'ts▁': 0.098908,
         't▁b': 0.113428,
         't▁d': 0.098662,
         't▁k': 0.127367,
         't▁l': 0.126184,
         't▁m': 0.139557,
         'uis': 0.101204,
         'uit': 0.079266,
         'van': 0.088149,
         'ven': 0.112168,
         'voo': 0.103352,
         'vri': 0.079484,
         'wat': 0.093462,
         'wer': 0.094289,
         'wet': 0.097955,
         'wil': 0.103692,
         'won': 0.099586,
         'woo': 0.09999,
         'zen': 0.099228,
         '▁aa': 0.103997,
         '▁al': 0.099873,
         '▁co': -0.111354,
         '▁di': 0.228628,
         '▁ee': 0.085976,
         '▁er': 0.089376,
         '▁ga': 0.104653,
         '▁he': 0.197493,
         '▁is': 0.077722,
         '▁ja': 0.078925,
         '▁ke': 0.096244,
         '▁ma': 0.17758,
         '▁me': 0.12883,
         '▁ni': 0.107764,
         '▁om': 0.082926,
         '▁oo': 0.096245,
         '▁op': 0.100928,
         '▁sc': 0.086568,
         '▁sp': 0.088581,
         '▁ui': 0.079266,
         '▁vi': -0.097918,
         '▁vo': 0.077679,
         '▁vr': 0.079484,
         '▁wa': 0.125213,
         '▁we': 0.187866,
         '▁wi': 0.118705,
         '▁wo': 0.210821,
         '▁น▁': -0.11716,
         '▁เ▁': -0.090211,
         '▁่▁': -0.074317,
         '▁る▁': -0.086309}),
 'pl': (-2.622836,
        {'acu': 0.079411,
         'aje': 0.08228,
         'ają': 0.326436,
         'ak▁': 0.168749,
         'ale': 0.083818,
         'ar▁': -0.105097,
         'ata': 0.111973,
         'atr': 0.088917,
         'azy': 0.087874,
         'ał▁': 0.088696,
         'a▁n': 0.081083,
         'a▁p': 0.136434,
         'a▁r': 0.09699,
         'a▁t': 0.138013,
         'a▁ż': 0.093684,
         'bie': 0.101084,
         'bim': 0.08598,
         'być': 0.079807,
         'chc': 0.088696,
         'cia': 0.081871,
         'ci▁': 0.107691,
         'co▁': 0.088397,
         'cuj': 0.079411,
         'cza': 0.085398,
         'czy': 0.394218,
         'daj': 0.08228,
         'da▁': 0.091048,
         'de▁': -0.099985,
         'dom': 0.118119,
         'duż': 0.08228,
         'dy▁': 0.116101,
         'dzi': 0.437007,
         'dzą': 0.08314,
         'eci': 0.113626,
         'ecz': 0.111459,
         'edz': 0.080213,
         'emy': 0.088184,
         'en▁': -0.365756,
         'er▁': -0.358813,
         'esz': 0.087324,
         'es▁': -0.090184,
         'et▁': -0.09243,
         'ez▁': 0.082276,
         'eć▁': 0.080213,
         'e▁l': 0.109984,
         'e▁n': 0.119675,
         'gra': 0.100177,
         'hci': 0.088696,
         'hod': 0.08314,
         'iał': 0.088696,
         'idz': 0.088184,
         'iec': 0.113626,
         'ied': 0.129417,
         'ies': 0.083354,
         'ieć': 0.080213,
         'ie▁': 0.289608,
         'imy': 0.08598,
         'ing': -0.117372,
         'ię▁': 0.111909,
         'i▁z': 0.10069,
         'jak': 0.088991,
         'jes': 0.094772,
         'je▁': 0.161691,
         'ją▁': 0.326436,
         'kaj': 0.087324,
         'lat': 0.164628,
         'lud': 0.096768,
         'mie': 0.087324,
         'my▁': 0.174164,
         'm▁d': 0.104067,
         'naz': 0.087874,
         'na▁': 0.146777,
         'obi': 0.08598,
         'oda': 0.11517,
         'odz': 0.08314,
         'od▁': 0.08719,
         'or▁': -0.121978,
         'os▁': -0.100962,
         'owa': 0.108601,
         'o▁w': 0.102551,
         'pat': 0.088917,
         'pra': 0.079411,
         'prz': 0.336948,
         'rac': 0.079411,
         'raj': 0.100177,
         'rob': 0.08598,
         'rze': 0.296396,
         'rzy': 0.294069,
         'się': 0.111909,
         'szk': 0.148348,
         'sło': 0.108601,
         's▁a': -0.083238,
         'taj': 0.090992,
         'tak': 0.089146,
         'ta▁': 0.087896,
         'te▁': -0.090023,
         'to▁': 0.148308,
         'trz': 0.088917,
         'udz': 0.096768,
         'uje': 0.079411,
         'użo': 0.08228,
         'wa▁': 0.196475,
         'wod': 0.11517,
         'w▁l': 0.083832,
         'ych': 0.08314,
         'yta': 0.090992,
         'ywa': 0.087874,
         'yć▁': 0.079807,
         'ył▁': 0.088917,
         'y▁s': 0.093591,
         'y▁z': 0.117291,
         'zas': 0.085398,
         'za▁': 0.080715,
         'zec': 0.111459,
         'zez': 0.082276,
         'ze▁': 0.113629,
         'zie': 0.437007,
         'zka': 0.087324,
         'zyc': 0.08314,
         'zyt': 0.090992,
         'zyw': 0.087874,
         'zył': 0.088917,
         'zy▁': 0.297028,
         'zą▁': 0.131703,
         'z▁d': 0.175658,
         'ą▁j': 0.162337,
         'ą▁p': 0.148575,
         'ę▁d': 0.098245,
         'łow': 0.108601,
         'że▁': 0.167331,
         'żo▁': 0.08228,
         '▁an': -0.092304,
         '▁cz': 0.25782,
         '▁de': -0.163415,
         '▁do': 0.212713,
         '▁dz': 0.113626,
         '▁gr': 0.100177,
         '▁id': 0.088184,
         '▁i▁': 0.084715,
         '▁je': 0.094772,
         '▁la': 0.124194,
         '▁le': -0.089013,
         '▁lu': 0.096768,
         '▁na': 0.179518,
         '▁ni': 0.199922,
         '▁od': 0.082815,
         '▁pr': 0.416358,
         '▁ro': 0.08598,
         '▁rz': 0.111459,
         '▁sł': 0.108601,
         '▁ta': 0.081854,
         '▁to': 0.096979,
         '▁vi': -0.097042,
         '▁w▁': 0.098334,
         '▁za': 0.202143,
         '▁z▁': 0.116571,
         '▁że': 0.104621,
         '▁น▁': -0.118735,
         '▁เ▁': -0.091424,
         '▁る▁': -0.087475}),
 'pt': (-2.638991,
        {'aba': 0.073191,
         'abe': 0.081781,
         'agu': 0.091522,
         'ala': 0.091053,
         'alh': 0.088413,
         'ami': 0.103673,
         'amo': 0.07117,
         'am▁': 0.240293,
         'anc': 0.089394,
         'ano': 0.076745,
         'an▁': -0.07596,
         'ao▁': 0.115162,
         'ara': 0.079535,
         'ar▁': -0.104963,
         'asa': 0.084153,
         'as▁': 0.705618,
         'ava': 0.084476,
         'avr': 0.099317,
         'aze': 0.086294,
         'a▁c': 0.148168,
         'a▁d': 0.161644,
         'a▁e': 0.110254,
         'a▁f': 0.148863,
         'a▁p': 0.084983,
         'a▁v': 0.133418,
         'bal': 0.088413,
         'ber': 0.0738,
         'bri': 0.097659,
         'cam': 0.142476,
         'cas': 0.184714,
         'ca▁': 0.116001,
         'cha': 0.094521,
         'coi': 0.103217,
         'com': 0.206559,
         'cri': 0.088967,
         'das': 0.092831,
         'da▁': 0.135582,
         'dos': 0.100564,
         'do▁': 0.225357,
         'eem': 0.102344,
         'ega': 0.071651,
         'emo': 0.083266,
         'emp': 0.105555,
         'em▁': 0.395698,
         'en▁': -0.365448,
         'eri': 0.080633,
         'er▁': -0.180085,
         'esc': 0.100928,
         'ess': 0.090171,
         'es▁': -0.091039,
         'et▁': -0.092009,
         'e▁b': 0.077308,
         'e▁c': 0.229575,
         'faz': 0.09085,
         'foi': 0.077213,
         'gam': 0.090098,
         'gos': 0.070876,
         'gua': 0.08463,
         'ham': 0.150372,
         'hav': 0.093989,
         'ha▁': 0.08161,
         'heg': 0.090098,
         'ian': 0.100561,
         'ia▁': 0.08329,
         'igo': 0.070876,
         'inc': 0.1013,
         'ing': -0.117116,
         'isa': 0.103217,
         'lav': 0.092255,
         'lee': 0.094154,
         'le▁': -0.108932,
         'lha': 0.186541,
         'mas': 0.138437,
         'ma▁': 0.164874,
         'min': 0.09585,
         'mos': 0.168176,
         'm▁l': 0.083134,
         'm▁m': 0.072412,
         'm▁o': 0.135171,
         'm▁q': 0.089455,
         'm▁u': 0.266946,
         'nca': 0.263493,
         'ndo': 0.07464,
         'ng▁': -0.078174,
         'nos': 0.086509,
         'n▁e': -0.071626,
         'oas': 0.090171,
         'ois': 0.103217,
         'oi▁': 0.077213,
         'olh': 0.098127,
         'omo': 0.082833,
         'os▁': 0.616693,
         'o▁c': 0.147859,
         'o▁o': 0.124566,
         'o▁p': 0.097392,
         'pal': 0.091053,
         'pel': 0.098808,
         'pes': 0.090171,
         'por': 0.081311,
         'que': 0.211647,
         'rab': 0.073191,
         'ras': 0.091053,
         'ria': 0.24117,
         'rin': 0.09411,
         'r▁q': 0.076544,
         'r▁v': -0.078792,
         'sab': 0.081781,
         'sas': 0.094118,
         'sa▁': 0.121869,
         'soa': 0.090171,
         'sso': 0.090171,
         's▁a': 0.250698,
         's▁c': 0.129935,
         's▁d': 0.300129,
         's▁e': 0.111877,
         's▁p': 0.229471,
         's▁s': 0.119263,
         's▁t': 0.071176,
         'tra': 0.120173,
         'ua▁': 0.083827,
         'uer': 0.086814,
         'ue▁': 0.077995,
         'uma': 0.151341,
         'um▁': 0.101994,
         'vam': 0.08491,
         'va▁': 0.084389,
         'vem': 0.150249,
         'viv': 0.079553,
         'vra': 0.099317,
         'yor': -0.072675,
         'zem': 0.086294,
         '▁ag': 0.091522,
         '▁as': 0.079343,
         '▁br': 0.090917,
         '▁ca': 0.118187,
         '▁ch': 0.154869,
         '▁co': 0.311042,
         '▁cr': 0.100561,
         '▁da': 0.229435,
         '▁do': 0.17699,
         '▁em': 0.095727,
         '▁es': 0.168261,
         '▁e▁': 0.093202,
         '▁fa': 0.07741,
         '▁ma': 0.077506,
         '▁ol': 0.093808,
         '▁os': 0.148979,
         '▁o▁': 0.075634,
         '▁pa': 0.142223,
         '▁pe': 0.277844,
         '▁po': 0.071605,
         '▁qu': 0.148929,
         '▁se': 0.197425,
         '▁te': 0.113013,
         '▁tr': 0.120173,
         '▁um': 0.253335,
         '▁น▁': -0.117965,
         '▁เ▁': -0.090831,
         '▁่▁': -0.074828,
         '▁る▁': -0.086906}),
 'sv': (-2.652227,
        {'ade': 0.1032,
         'ad▁': 0.11608,
         'ake': 0.095974,
         'an▁': 0.099345,
         'arb': 0.083904,
         'arn': 0.116113,
         'ar▁': 0.308044,
         'as▁': -0.134023,
         'att': 0.197132,
         'av▁': 0.113705,
         'a▁m': 0.080232,
         'bar': 0.112225,
         'bet': 0.098684,
         'bor': 0.094727,
         'det': 0.079534,
         'de▁': 0.136386,
         'd▁a': 0.082539,
         'd▁f': 0.086285,
         'd▁s': 0.07546,
         'd▁v': 0.08491,
         'eke': 0.107756,
         'en▁': 0.145402,
         'er▁': 0.856468,
         'es▁': -0.090127,
         'eta': 0.206684,
         'ete': 0.089365,
         'ett': 0.113941,
         'et▁': 0.070683,
         'e▁k': 0.085813,
         'för': 0.109741,
         'ger': 0.148153,
         'går': 0.103792,
         'gör': 0.117946,
         'han': 0.100769,
         'het': 0.094596,
         'hon': 0.11554,
         'hus': 0.108221,
         'id▁': 0.153737,
         'ig▁': 0.117369,
         'ill': 0.232975,
         'int': 0.134114,
         'isk': 0.086104,
         'itt': 0.100009,
         'i▁g': 0.086658,
         'ker': 0.264559,
         'kom': 0.09282,
         'kor': 0.086104,
         'lek': 0.107756,
         'lle': 0.115563,
         'll▁': 0.101712,
         'läs': 0.104137,
         'l▁h': 0.075668,
         'mar': 0.081645,
         'med': 0.096508,
         'mer': 0.073585,
         'mma': 0.091997,
         'mme': 0.073481,
         'män': 0.086104,
         'm▁s': 0.097572,
         'm▁v': 0.082529,
         'ner': 0.07578,
         'nge': 0.079533,
         'nis': 0.078881,
         'nni': 0.073379,
         'no▁': -0.078154,
         'nte': 0.112215,
         'n▁a': 0.183105,
         'n▁b': 0.162478,
         'n▁g': 0.158527,
         'omm': 0.137647,
         'om▁': 0.173718,
         'ord': 0.083407,
         'or▁': 0.080756,
         'os▁': -0.099887,
         'på▁': 0.09419,
         'rbe': 0.083904,
         'rd▁': 0.098604,
         'rn▁': 0.105881,
         'r▁d': 0.220785,
         'r▁e': 0.107753,
         'r▁h': 0.083704,
         'r▁i': 0.071756,
         'r▁l': 0.104834,
         'r▁o': 0.122206,
         'r▁p': 0.081589,
         'r▁s': 0.170266,
         'r▁t': 0.162134,
         'r▁v': 0.457178,
         'sak': 0.112055,
         'ser': 0.133017,
         'sig': 0.073323,
         'sko': 0.147474,
         'som': 0.137293,
         's▁a': -0.082465,
         's▁d': -0.073216,
         's▁ä': 0.103338,
         'tad': 0.1032,
         'tar': 0.191207,
         'ta▁': 0.083782,
         'ten': 0.147186,
         'ter': 0.148459,
         'tid': 0.105558,
         'til': 0.136962,
         'tit': 0.09889,
         'tta': 0.1032,
         'tte': 0.161301,
         'tt▁': 0.201057,
         't▁h': 0.078361,
         't▁å': 0.084034,
         'us▁': 0.073891,
         'var': 0.07198,
         'vat': 0.113705,
         'vet': 0.108,
         'vil': 0.098199,
         'vi▁': 0.107636,
         'vän': 0.082428,
         'v▁o': 0.099221,
         'yor': -0.073054,
         'änn': 0.168532,
         'är▁': 0.116641,
         'äse': 0.104137,
         'år▁': 0.202339,
         'å▁t': 0.089506,
         'ör▁': 0.227687,
         '▁ar': 0.070361,
         '▁av': 0.107261,
         '▁ba': 0.089142,
         '▁bo': 0.094727,
         '▁co': -0.111361,
         '▁da': -0.082576,
         '▁de': 0.172253,
         '▁et': 0.090109,
         '▁fö': 0.109741,
         '▁gå': 0.103792,
         '▁gö': 0.117946,
         '▁ha': 0.077663,
         '▁ho': 0.107771,
         '▁hu': 0.091068,
         '▁in': 0.101696,
         '▁ko': 0.085411,
         '▁lä': 0.104137,
         '▁me': 0.150222,
         '▁mä': 0.086104,
         '▁oc': 0.121054,
         '▁om': 0.095521,
         '▁or': 0.102818,
         '▁på': 0.09419,
         '▁sa': 0.076215,
         '▁sk': 0.102767,
         '▁so': 0.110005,
         '▁ti': 0.277439,
         '▁va': 0.21263,
         '▁vi': 0.247697,
         '▁vä': 0.082428,
         '▁är': 0.116641,
         '▁år': 0.098548,
         '▁น▁': -0.117336,
         '▁เ▁': -0.090346,
         '▁่▁': -0.074428,
         '▁る▁': -0.086439}),
 'th': (-2.638333,
        {'en▁': -0.362266,
         'er▁': -0.355541,
         'า▁น': 0.391821,
         'ี▁ย': 0.265631,
         'ื▁่': 0.280477,
         'เ▁ร': 0.322339,
         '่▁น': 0.205619,
         '▁ก▁': 0.504077,
         '▁ค▁': 0.348587,
         '▁ง▁': 0.480448,
         '▁ด▁': 0.634292,
         '▁ท▁': 0.33983,
         '▁น▁': 1.513181,
         '▁บ▁': 0.293991,
         '▁ป▁': 0.239569,
         '▁ม▁': 0.586641,
         '▁ย▁': 0.622359,
         '▁ร▁': 0.680465,
         '▁ล▁': 0.326121,
         '▁ว▁': 0.351901,
         '▁อ▁': 0.676913,
         '▁า▁': 0.824432,
         '▁ำ▁': 0.376997,
         '▁ิ▁': 0.391856,
         '▁ี▁': 0.559581,
         '▁ื▁': 0.280477,
         '▁ู▁': 0.360727,
         '▁เ▁': 1.165184,
         '▁ไ▁': 0.25317,
         '▁็▁': 0.223945,
         '▁่▁': 0.959908,
         '▁้▁': 0.625146}),
 'tr': (-2.634905,
        {'ada': 0.141216,
         'aha': 0.087262,
         'akt': 0.086094,
         'ak▁': 0.106117,
         'alı': 0.121287,
         'ama': 0.128785,
         'anl': 0.081702,
         'apı': 0.080101,
         'ar▁': 0.510942,
         'as▁': -0.134288,
         'aşl': 0.122105,
         'aşı': 0.085426,
         'a▁b': 0.173811,
         'a▁ş': 0.085351,
         'bak': 0.086094,
         'baş': 0.105424,
         'bil': 0.079152,
         'bir': 0.164413,
         'biz': 0.080772,
         'bi▁': 0.089513,
         'bu▁': 0.083122,
         'cuk': 0.099377,
         'dah': 0.087262,
         'dar': 0.078545,
         'diy': 0.146596,
         'di▁': 0.130283,
         'edi': 0.084178,
         'ele': 0.129871,
         'eli': 0.170731,
         'es▁': -0.089952,
         'et▁': -0.092908,
         'ev▁': 0.101613,
         'eyl': 0.099043,
         'e▁ç': 0.087356,
         'gel': 0.079247,
         'gib': 0.089513,
         'gid': 0.081016,
         'güz': 0.080585,
         'ha▁': 0.080413,
         'ibi': 0.089513,
         'idi': 0.081016,
         'ile': 0.100164,
         'ilm': 0.079152,
         'ime': 0.085984,
         'ing': -0.117536,
         'ins': 0.078063,
         'ir▁': 0.11184,
         'iyo': 0.281874,
         'iz▁': 0.080772,
         'içi': 0.100243,
         'i▁o': 0.142422,
         'kad': 0.149765,
         'kel': 0.091484,
         'ki▁': 0.074398,
         'kla': 0.099377,
         'ktı': 0.086094,
         'kuy': 0.086386,
         'k▁k': 0.113279,
         'k▁y': 0.128726,
         'lar': 0.403031,
         'ler': 0.241359,
         'lim': 0.091484,
         'liy': 0.079247,
         'lla': 0.076307,
         'lme': 0.079152,
         'lıy': 0.093601,
         'lış': 0.078571,
         'mek': 0.079152,
         'mel': 0.091484,
         'ng▁': -0.07835,
         'nla': 0.081702,
         'no▁': -0.078536,
         'nra': 0.079505,
         'nuy': 0.088401,
         'n▁b': 0.093032,
         'n▁h': 0.09784,
         'ocu': 0.099377,
         'oku': 0.151317,
         'ok▁': 0.157806,
         'onr': 0.079505,
         'oru': 0.161116,
         'or▁': 0.711281,
         'os▁': -0.100339,
         'oyn': 0.088401,
         'pıy': 0.080101,
         'riy': 0.079664,
         'ruz': 0.161116,
         'r▁a': 0.219172,
         'r▁d': 0.240602,
         'r▁g': 0.141445,
         'r▁k': 0.089024,
         'r▁v': -0.079717,
         'r▁ç': 0.185828,
         'r▁ş': 0.094308,
         'san': 0.081702,
         'ste': 0.075711,
         'su▁': 0.084683,
         's▁a': -0.08273,
         'ted': 0.073648,
         'tı▁': 0.086094,
         'ukl': 0.099377,
         'uyo': 0.218512,
         'uz▁': 0.161116,
         'u▁n': 0.085334,
         'u▁y': 0.083122,
         've▁': 0.078355,
         'v▁i': 0.088986,
         'yap': 0.080101,
         'yaz': 0.099881,
         'yaş': 0.085426,
         'yle': 0.099043,
         'ynu': 0.088401,
         'yok': 0.079454,
         'yor': 0.934869,
         'yıl': 0.095435,
         'zel': 0.080585,
         'z▁b': 0.11167,
         'çal': 0.078571,
         'çin': 0.100243,
         'çoc': 0.099377,
         'çok': 0.085904,
         'ün▁': 0.102187,
         'üze': 0.080585,
         'ıll': 0.095435,
         'ıyo': 0.383583,
         'ışı': 0.078571,
         'ı▁b': 0.075423,
         'şey': 0.147466,
         'şıy': 0.163996,
         '▁ba': 0.170323,
         '▁bi': 0.302531,
         '▁bu': 0.130132,
         '▁co': -0.111837,
         '▁da': 0.11667,
         '▁ev': 0.096534,
         '▁gi': 0.146696,
         '▁gü': 0.080585,
         '▁he': 0.092523,
         '▁hi': 0.075926,
         '▁il': 0.089969,
         '▁iç': 0.100243,
         '▁ka': 0.078545,
         '▁ke': 0.083388,
         '▁le': -0.089297,
         '▁ma': -0.115121,
         '▁ne': 0.090923,
         '▁ok': 0.151317,
         '▁oy': 0.088401,
         '▁ve': 0.124273,
         '▁vi': -0.097708,
         '▁ya': 0.319967,
         '▁yo': 0.074357,
         '▁yı': 0.095435,
         '▁ça': 0.078571,
         '▁ço': 0.185281,
         '▁şe': 0.147466,
         '▁น▁': -0.118158,
         '▁เ▁': -0.090979,
         '▁่▁': -0.07495,
         '▁る▁': -0.087048}),
 'zh': (-2.620428,
        {'en▁': -0.364671,
         'er▁': -0.357906,
         '▁一▁': 0.286304,
         '▁上▁': 0.42086,
         '▁中▁': 0.228815,
         '▁人▁': 0.370941,
         '▁他▁': 0.261367,
         '▁们▁': 0.262462,
         '▁住▁': 0.247865,
         '▁叫▁': 0.261391,
         '▁在▁': 0.364388,
         '▁天▁': 0.222471,
         '▁子▁': 0.473842,
         '▁想▁': 0.344129,
         '▁我▁': 0.246823,
         '▁时▁': 0.258761,
         '▁是▁': 0.286232,
         '▁有▁': 0.370308,
         '▁来▁': 0.413278,
         '▁玩▁': 0.253669,
         '▁看▁': 0.228779,
         '▁词▁': 0.239968,
         '▁读▁': 0.261319,
         '▁这▁': 0.356954,
         '▁道▁': 0.285119,
         '他▁叫': 0.2287,
         '住▁他': 0.228669,
         '叫▁这': 0.228728,
         '在▁读': 0.228647,
         '有▁住': 0.22864,
         '玩▁在': 0.224822,
         '读▁有': 0.228637})}

_TOKEN_REGEX = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def _hit_count(words_expr: str, lexicon: list[str]) -> str:
    """SQL count of tokens contained in the lexicon.

    Membership is written ``w IN (...)`` — not
    ``array_contains(array(...), w)`` — so Catalyst's OptimizeIn rule
    rewrites the literal list to an ``InSet`` hash lookup; the array
    form is an O(|lexicon|) scan per token per language, measured
    ~15× slower on the sf0.1 trigram gate."""
    arr = ", ".join(f"'{w}'" for w in lexicon)
    return f"size(filter({words_expr}, w -> w in ({arr})))"


def _argmax_struct_sql(score_sqls: list[tuple[str, str]]) -> str:
    """SQL for the deterministic declaration-order argmax as ONE
    expression: ``array_max`` over (score, -index, lang) structs —
    struct comparison is field-lexicographic, so the maximum is the
    highest score, ties broken toward the EARLIEST declared language
    (larger ``-index``), exactly the stacked CASE's semantics."""
    entries = ", ".join(
        "named_struct('s', {}, 'ni', {}, 'l', '{}')".format(
            sql, -i, lang.replace("'", "''")
        )
        for i, (lang, sql) in enumerate(score_sqls)
    )
    return f"array_max(array({entries}))"


# Why the language scorers are ONE self-contained expression each
# (round 8): the previous design materialized helper columns
# (trigram stream -> per-language scores -> argmax) across stacked
# projections. That is optimal for the scorer IN ISOLATION, but any
# downstream operator that makes Catalyst substitute through the
# projections — a pushed-down filter on the predicted language, the
# stage-count aggregate's expression extraction — re-inlines every
# level into every reference, MULTIPLYING the levels: the curation
# chain's plan held 529 copies of the trigram construction, and the
# higher-order functions these scorers are built from are interpreted
# (no codegen subexpression elimination), so a 50k-doc audit took
# 236 s instead of 5 (measured; regression-pinned in
# tests/test_text.py). The fix is structural: bind the expensive
# token stream ONCE as a lambda variable
# (``transform(array(<stream>), v -> <argmax over scores of v>)[0]``
# — the char-array binding trick at expression scope) and compute
# every language's score exactly once inside. The whole scorer is
# then ONE opaque expression: downstream substitution can copy it a
# handful of times (one per reference), never multiply its internals.
# Round 10: flattening the language-inventory cost curve. Two designs
# were measured at sf0.1 (medians of 7, local[32]) against the 15/8
# inventory whose r9 extension cost +36% on q_text_language_id:
#
# * Script ROUTING (per-language probes gated behind per-document
#   script-presence RLIKE booleans, bound once in the scorer struct):
#   MEASURED NEGATIVE. lexicon 0.377 → 0.603 s (+60%), trigram 2.233
#   → 2.282 s; on a pure-CJK corpus lexicon 0.246 → 0.372 s (+51%),
#   trigram a wash. The gate booleans cost one full-text regex scan
#   per script class (the non-matching classes scan to the end), which
#   exceeds what the skipped per-token InSet probes cost — an InSet
#   probe is a hash lookup, already near-free per added language.
#
# * UNION PREFILTER (below, now the implementation): filter the bound
#   token stream ONCE against the union of every language's entries,
#   then probe each language against only the SURVIVORS (function
#   words are a minority of real prose, and out-of-inventory tokens
#   are the common case). Bit-identical by construction — a token
#   hitting no language's set contributes to no numerator, and the
#   denominator stays the UNFILTERED stream size. Measured: lexicon
#   0.423 → 0.268 s (−37%), trigram 2.338 → 1.856 s (−21%) — both
#   back at their r8-era cost with the full 15-language inventory.
def _lexicon_struct(text_col: str):
    """struct(s, ni, l): the lexicon rung's argmax as one
    self-contained Column (see the design note above). The word stream
    is the SCRIPT-SEGMENTED form (round 9): a no-op on spaced-script
    text, while zh/ja/th text decomposes per character so the
    single-character entries of :data:`LANG_LEXICON` can hit — without
    it a space-free-script document is ONE token and every lexicon
    scores zero. Empty tokens are dropped (the canonical segmented
    form guarantee), so the hit ratio's denominator is real tokens —
    and therefore CAN be zero for empty/whitespace-only text (the
    historical unfiltered split never was): the ``greatest(..., 1)``
    floor keeps the ratio a deterministic 0.0 there instead of an
    ANSI DIVIDE_BY_ZERO (review-caught, round 9; mirrored in the
    DuckDB oracle).

    Two-level binding (round 10): the word stream binds once as
    ``ws``, its union-of-all-lexicons survivors bind once as ``wsh``,
    and every language's hit count probes ``wsh`` while the ratio
    denominator stays ``size(ws)`` — values bit-identical to probing
    ``ws`` directly (see the design note), cost one union probe per
    token plus per-language probes over the survivors only."""
    union = sorted({w for lex in LANG_LEXICON.values() for w in lex})
    arr_u = ", ".join(f"'{w}'" for w in union)
    scores = [
        (
            lang,
            f"round({_hit_count('wsh', lex)}"
            f" / cast(greatest(size(ws), 1) as double), 6)",
        )
        for lang, lex in LANG_LEXICON.items()
    ]
    inner = _argmax_struct_sql(scores)
    return F.expr(
        f"transform(array({_words_sql(text_col, 'script')}), ws ->"
        f" transform(array(filter(ws, w -> w in ({arr_u}))),"
        f" wsh -> {inner})[0])[0]"
    )


def _ngram_lang_struct(text_col: str):
    """struct(s, ni, l): the trigram-profile rung's argmax as one
    self-contained Column. Keeps both measured hot-path choices
    (O(len) char-array lambda construction; InSet profile membership
    — see the per-rung docstrings), now with the trigram stream bound
    once as the outer lambda variable so no downstream rewrite can
    re-inline its construction per language.

    The trigram stream runs over the SCRIPT-SEGMENTED canonical form
    (round 9): spaced-script text is unchanged (segmentation is a
    character-level no-op, space runs collapse to the canonical single
    space), while zh/ja/th text yields ``' X '``-shaped boundary
    trigrams that match the single-character profile entries — the
    unsegmented stream contains no spaces at all, so no space-padded
    profile could ever hit it."""
    s = f"concat(' ', {segmented_text_sql(f'lower({text_col})')}, ' ')"
    tris = (
        f"flatten(transform(array(split({s}, '')),"
        f" cs -> transform(sequence(1, greatest(size(cs) - 2, 1)),"
        f" i -> concat_ws('', slice(cs, i, 3)))))"
    )
    # round 10 (see the design note above _lexicon_struct): the
    # trigram stream binds once as t3, its union-of-all-profiles
    # survivors once as t3u; each profile probes the survivors, the
    # score denominator stays the unfiltered stream size. Measured
    # 2.338 -> 1.856 s at sf0.1, values bit-identical.
    union = sorted({t for prof in LANG_TRIGRAM_PROFILES.values() for t in prof})
    arr_u = ", ".join("'" + t + "'" for t in union)
    scores = []
    for lang, prof in LANG_TRIGRAM_PROFILES.items():
        arr = ", ".join("'" + t + "'" for t in prof)
        scores.append(
            (
                lang,
                f"round(size(filter(t3u, t -> t in ({arr})))"
                f" / cast(size(t3) as double), 6)",
            )
        )
    inner = _argmax_struct_sql(scores)
    return F.expr(
        f"transform(array({tris}), t3 ->"
        f" transform(array(filter(t3, t -> t in ({arr_u}))),"
        f" t3u -> {inner})[0])[0]"
    )


def _literal_prob_var_sql(
    weights, bias: float, tokens_var: str, denom_var: str | None = None
) -> str:
    """SQL for the average-normalized literal-map sigmoid probability
    over a BOUND token-array variable — the lambda-scoped twin of
    :func:`_literal_score_prob` (same entries, same InSet prefilter,
    same rounding, so values are bit-identical).

    ``denom_var`` names the array whose SIZE normalizes the sum when
    the sum itself folds over a pre-filtered survivor array (the
    round-10 union-prefilter pattern): values stay bit-identical
    because every filtered-out token contributed an exact ``+0.0`` —
    an IEEE identity (no weight in the pinned models is −0.0, and
    exact cancellation yields +0.0, so the accumulator is never −0.0
    when a +0.0 term is dropped)."""
    entries = ", ".join(
        "'" + w.replace("'", "''") + f"', CAST({float(x)!r} AS DOUBLE)"
        for w, x in sorted(weights.items())
    )
    lookup = f"element_at(map({entries}), w)"
    if len(weights) >= _INSET_PREFILTER_MIN:
        keys = ", ".join(
            "'" + w.replace("'", "''") + "'" for w in sorted(weights)
        )
        lookup = (
            f"CASE WHEN w IN ({keys}) THEN {lookup} "
            f"ELSE CAST(NULL AS DOUBLE) END"
        )
    total = (
        f"aggregate({tokens_var}, cast(0.0 as double),"
        f" (acc, w) -> acc + coalesce({lookup}, cast(0.0 as double)))"
    )
    score = (
        f"round(CAST({float(bias)!r} AS DOUBLE)"
        f" + {total} / cast(size({denom_var or tokens_var}) as double), 6)"
    )
    return f"round(1.0 / (1.0 + exp(-{score})), 6)"


def _langid_literal_struct(model, ftext_sql: str):
    """struct(s, ni, l): the trained rung's literal-model argmax as
    one self-contained Column — the feature-gram array is bound once,
    its union-of-all-model-features survivors once more (round 10:
    the same prefilter that flattened the lexicon/trigram rungs —
    out-of-vocabulary grams are the common case and contribute exact
    +0.0, so each language's fold runs over the survivors while the
    average keeps the full-stream denominator; bit-identical, pinned
    by the naive-scorer A/B test), each language's sigmoid computed
    exactly once inside."""
    union = sorted({w for _, ws in model.values() for w in ws})
    arr_u = ", ".join("'" + w.replace("'", "''") + "'" for w in union)
    scores = [
        (lang, _literal_prob_var_sql(ws, bias, "gsu", denom_var="gs"))
        for lang, (bias, ws) in model.items()
    ]
    inner = _argmax_struct_sql(scores)
    return F.expr(
        f"transform(array(split({ftext_sql}, ' ')), gs ->"
        f" transform(array(filter(gs, w -> w in ({arr_u}))),"
        f" gsu -> {inner})[0])[0]"
    )


#: The unknown-language label every rung's ``min_score`` floor yields
#: (ISO 639-2 'und', undetermined) — a 100 TB crawl is mostly text the
#: language inventory does NOT cover (other languages, code,
#: gibberish, markup), and an argmax with no floor files all of it
#: under whichever in-inventory language scores least badly.
UNKNOWN_LANG = "und"


def _null_text_guard(struct_col, text_col: str):
    """NULL text -> NULL scorer struct (NULL prediction, NULL score)
    on EVERY rung. Review-caught: array_max over all-NULL scores
    tiebreaks to the first declared language, so an unguarded struct
    argmax would label NULL-text documents 'en' — and the pre-struct
    rungs disagreed with each other here (lexicon NULL, trigram
    'en'@0.0), so this also unifies the contract: no text, no
    prediction (the und floor maps it on to 'und' when set, since
    NULL >= floor is NULL)."""
    return F.when(
        F.col(text_col).isNull(), F.lit(None)
    ).otherwise(struct_col)


def _floor_lang_col(struct_col, min_score):
    """The floored predicted-language Column as ONE self-contained
    expression: the scorer struct is bound once as a lambda variable
    (``transform(array(x), lx -> ...)[0]``, the round-8 anti-blowup
    binding), so downstream Project collapse copies the scorer once
    per REFERENCE to the language column — not once per field access
    inside the floor CASE. Semantics identical to
    ``_floor_pred(x.l, x.s, min_score)`` including the NULL-text
    contract (NULL struct → NULL language; with a floor set, the
    NULL comparison falls through to ``und`` — the pre-existing
    behavior, pinned by the floor tests)."""
    arr = F.array(struct_col)
    if min_score is None:
        return F.transform(arr, lambda lx: lx.getField("l"))[0]
    return F.transform(
        arr,
        lambda lx: F.when(
            lx.getField("s") >= F.lit(float(min_score)),
            lx.getField("l"),
        ).otherwise(F.lit(UNKNOWN_LANG)),
    )[0]


def _floor_pred(pred, best, min_score):
    """predicted-language Column with the ``min_score`` floor applied:
    below the floor the argmax is overridden to :data:`UNKNOWN_LANG`
    (the score column is left as computed, so callers can inspect HOW
    unsure the winner was). ``None`` disables — the pre-floor argmax
    behavior, bit-identical."""
    if min_score is None:
        return pred
    return F.when(
        best >= F.lit(float(min_score)), pred
    ).otherwise(F.lit(UNKNOWN_LANG))


#: Lazily-built lookup tables of the vectorized trigram-scoring
#: kernel: (union_ids, union_masks, langs). Built once per PROCESS —
#: the driver and each reused Python worker — from
#: :data:`LANG_TRIGRAM_PROFILES`, the guide-§4.5 once-per-task-or-
#: better initialization shape.
_LANGID_KERNEL_TABLES = None


def _tri_id_u64(tri: str) -> int:
    """One trigram as a uint64: three 21-bit codepoints (Unicode tops
    out at 0x10FFFF = 21 bits), high-to-low so lexicographic gram
    identity maps to integer equality. Grams shorter than 3 chars
    (the sub-3-char-document boundary gram) pad with 0 — no profile
    entry contains U+0000, so a padded id can never collide with a
    real profile gram."""
    cps = [ord(c) for c in tri] + [0, 0]
    return (cps[0] << 42) | (cps[1] << 21) | cps[2]


def _langid_kernel_tables():
    global _LANGID_KERNEL_TABLES
    if _LANGID_KERNEL_TABLES is None:
        import numpy as np

        langs = list(LANG_TRIGRAM_PROFILES)
        union = sorted(
            {t for prof in LANG_TRIGRAM_PROFILES.values() for t in prof}
        )
        ids = np.array([_tri_id_u64(t) for t in union], dtype=np.uint64)
        order = np.argsort(ids)
        ids = ids[order]
        pos = {int(v): k for k, v in enumerate(ids)}
        masks = np.zeros(len(ids), dtype=np.uint32)
        for li, prof in enumerate(LANG_TRIGRAM_PROFILES.values()):
            for t in prof:
                masks[pos[_tri_id_u64(t)]] |= 1 << li
        _LANGID_KERNEL_TABLES = (ids, masks, langs)
    return _LANGID_KERNEL_TABLES


def _langid_ngram_score_block(texts, min_score):
    """(predicted_lang list, lang_score list) for one batch of texts —
    the vectorized twin of :func:`_ngram_lang_struct` + the null guard
    + the ``min_score`` floor, value-identical row for row
    (parity-pinned by ``test_language_id_ngram_kernel_matches_expr``):

    * the trigram stream is the same space-padded, script-segmented,
      lowercased codepoint slide — Python ``str.lower()`` /
      ``re.sub`` / ``.strip(' ')`` match Spark's ``lower`` /
      ``regexp_replace`` / ``trim`` (probed: Turkish dotted-I lowers
      identically, ``split(s, '')`` yields CODEPOINTS so UTF-32 is
      the right unit, ``trim`` strips ASCII spaces only);
    * per-language membership counts ride ONE ``searchsorted`` against
      the union-profile id table plus a per-language bitmask — the
      union-prefilter idea of the expression path, vectorized;
    * scores are ``round(count / stream_size, 6)`` through
      :func:`~haplorec_spark.operators.similarity._round6_like_spark`
      (numpy half-even disagrees with Spark's HALF_UP within ~1 ULP of
      a .5 boundary — 2 of 5000 sf0.1 docs hit it);
    * argmax keeps declaration order on ties (strict ``>`` update in
      declaration order); NULL text stays (NULL, NULL) — except under
      a floor, where NULL >= floor is NULL and falls through to
      :data:`UNKNOWN_LANG` exactly like ``_floor_pred``.
    """
    import numpy as np

    from haplorec_spark.operators.similarity import _round6_like_spark

    union_ids, union_masks, langs = _langid_kernel_tables()
    n = len(texts)
    pred: list = [None] * n
    score: list = [None] * n
    live = [i for i, t in enumerate(texts) if t is not None]
    if live:
        bufs = []
        offs = [0]
        tot = 0
        for i in live:
            s = _SEGMENT_RE.sub(r" \1 ", texts[i].lower())
            s = " " + _SPACE_RUN_RE.sub(" ", s).strip(" ") + " "
            a = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32)
            bufs.append(a)
            tot += len(a)
            offs.append(tot)
        cp = np.concatenate(bufs).astype(np.uint64)
        offs = np.asarray(offs, dtype=np.int64)
        starts = offs[:-1]
        lens = np.diff(offs)
        # one trigram id per slide position of the concatenation;
        # doc i's valid positions are starts[i] .. offs[i+1]-3 (none
        # when the padded doc is shorter than 3 — its single short
        # boundary gram can never match a 3-char profile entry, so
        # only the denominator below sees it)
        g = (
            (cp[:-2] << np.uint64(42))
            | (cp[1:-1] << np.uint64(21))
            | cp[2:]
        )
        idx = np.searchsorted(union_ids, g)
        idx_c = np.minimum(idx, len(union_ids) - 1)
        hit = union_ids[idx_c] == g
        masks = np.where(hit, union_masks[idx_c], 0).astype(np.uint32)
        cum = np.zeros(len(g) + 1, dtype=np.int64)
        denom = np.maximum(lens - 2, 1).astype(np.float64)
        ends = np.maximum(offs[1:] - 2, starts)
        m = len(live)
        smat = np.empty((len(langs), m), dtype=np.float64)
        for li in range(len(langs)):
            bit = ((masks >> np.uint32(li)) & np.uint32(1)).astype(
                np.int64
            )
            np.cumsum(bit, out=cum[1:])
            cnt = cum[ends] - cum[starts]
            smat[li] = cnt / denom
        smat = _round6_like_spark(smat.ravel()).reshape(smat.shape)
        best = smat[0].copy()
        bidx = np.zeros(m, dtype=np.int64)
        for li in range(1, len(langs)):
            w = smat[li] > best
            best[w] = smat[li][w]
            bidx[w] = li
        for k, i in enumerate(live):
            p = langs[int(bidx[k])]
            if min_score is not None and not (best[k] >= min_score):
                p = UNKNOWN_LANG
            pred[i] = p
            score[i] = float(best[k])
    if min_score is not None:
        for i, t in enumerate(texts):
            if t is None:
                pred[i] = UNKNOWN_LANG
    return pred, score


def language_id(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_score: float | None = None,
) -> DataFrame:
    """(id, predicted_lang, lang_score): argmax of lexicon-hit ratios.

    Deterministic tiebreak: higher score wins, then lexicon declaration
    order (en, fr, es, de). Score = hits / token count, rounded.

    ``min_score`` is the unknown-language floor: a document whose BEST
    hit ratio is below it gets :data:`UNKNOWN_LANG` instead of a
    forced in-inventory argmax (``lang_score`` still reports that best
    ratio). Out-of-inventory text scores near zero on every lexicon,
    so even a small floor (e.g. 0.1 — one function word in ten
    tokens) separates it from real in-inventory prose.
    """
    x = _null_text_guard(_lexicon_struct(text_col), text_col)
    return (
        docs.select(F.col(id_col), x.alias("__lx"))
        .select(
            F.col(id_col),
            _floor_pred(
                F.col("__lx").getField("l"),
                F.col("__lx").getField("s"),
                min_score,
            ).alias("predicted_lang"),
            F.col("__lx").getField("s").alias("lang_score"),
        )
    )


def language_id_ngram(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_score: float | None = None,
) -> DataFrame:
    """(id, predicted_lang, lang_score): character-trigram profile
    scoring over 15 languages (11 spaced + zh/ja/ko/th) — the second
    rung above :func:`language_id`'s whole-word lexicon.

    Each language's profile is the trigram set of its space-padded
    function words (:data:`LANG_TRIGRAM_PROFILES`, Cavnar &
    Trenkle-style membership profiles); a document scores
    ``|doc trigrams ∩ profile| / |doc trigrams|`` per language
    (multiset over the doc's trigram stream, so frequent function
    words weigh more), argmax with the deterministic declaration-order
    tiebreak. Trigram membership generalizes where exact word lookup
    fails — inflected forms ('les', 'chats') still hit ' le'/'es '
    style boundary trigrams — while staying a pure map-side column
    program: zero shuffle, zero Python, profiles are literal arrays
    (a few hundred entries per language, the literal-codebook pattern
    of ``similarity.assign_clusters``).

    ``min_score`` is the unknown-language floor
    (:data:`UNKNOWN_LANG` below it): the score is the fraction of the
    document's trigram stream found in the winning profile, so
    out-of-inventory text — which shares only incidental trigrams —
    sits far below in-inventory prose (typically < 0.1 vs > 0.3).

    Round 12 (guide §4.2): the standalone operator scores through a
    vectorized ``mapInArrow`` numpy kernel
    (:func:`_langid_ngram_score_block`) instead of the interpreted
    higher-order-function expression — HOFs are CodegenFallback, and
    the per-position ``slice``+``concat_ws`` gram construction plus
    per-language InSet folds dominated the gate (measured 2.39 s at
    sf0.1 for 5 000 documents). The kernel is value-identical row for
    row (parity-pinned against the expression twin, which remains the
    implementation of :func:`with_language` — curation chains need a
    pure Column). Still one scan, zero shuffle, zero join; only
    (id, text) crosses the Python boundary (an explicit pre-select,
    guide §4.1), and the profile tables build once per reused worker
    process (guide §4.5).
    """
    sel = docs.select(F.col(id_col), F.col(text_col))
    id_field = sel.schema[id_col]
    out_type = T.StructType(
        [
            id_field,
            T.StructField("predicted_lang", T.StringType()),
            T.StructField("lang_score", T.DoubleType()),
        ]
    )

    def kernel(batches):
        import pyarrow as pa

        for batch in batches:
            texts = batch.column(1).to_pylist()
            pred, score = _langid_ngram_score_block(texts, min_score)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0),
                    pa.array(pred, type=pa.string()),
                    pa.array(score, type=pa.float64()),
                ],
                names=[id_col, "predicted_lang", "lang_score"],
            )

    return sel.mapInArrow(kernel, out_type)


def char_ngram_text_sql(text_col: str, n: int = 3) -> str:
    """SQL for the character-n-gram FEATURE TEXT of a document: the
    space-padded, lowercased sliding n-grams of ``text_col``, joined
    by single spaces with in-gram spaces rendered ``▁`` so the
    bag-of-words tokenizer (``split(..., ' ')``) recovers exactly one
    token per n-gram. This is the shared feature definition between
    ``training.train_language_classifier`` (which trains on it) and
    :func:`language_id_model` (which scores with it) — they must
    never drift, so both call this.

    Same O(len) construction as :func:`_ngram_lang_struct`: the char
    array is bound once as a lambda variable instead of a per-index
    ``substring`` scan (which is O(len²) per document); ``slice`` +
    ``concat_ws`` keeps gram values — including the short boundary
    gram of a sub-n-length document — identical to the substring
    form, so trained weights and the DuckDB oracles are unaffected.

    Round 9: the gram stream runs over the SCRIPT-SEGMENTED canonical
    form (:func:`segmented_text_sql` — a no-op on spaced-script text,
    per-character isolation on zh/ja/th), so the trained rung sees
    ``▁的▁`` boundary grams and ``时▁间`` character-collocation grams
    on space-free scripts instead of one unbroken run. Training
    (``training.train_language_classifier``) and scoring share this
    definition, so the pinned model and the segmentation can never
    drift."""
    s = f"concat(' ', {segmented_text_sql(f'lower({text_col})')}, ' ')"
    return (
        f"array_join(flatten(transform(array(split({s}, '')),"
        f" cs -> transform(sequence(1, greatest(size(cs) - {n - 1}, 1)),"
        f" i -> translate(concat_ws('', slice(cs, i, {n})), ' ', '▁')))),"
        f" ' ')"
    )


def _mapping_ngram(model) -> int:
    """Recover the n-gram size a literal mapping form was trained
    with: a full ``char_ngram_text_sql`` feature is exactly ``n``
    characters (in-gram spaces rendered ``▁``), so the LONGEST key
    carries it — the mapping drops the model's ``ngram`` field, and
    scoring with the wrong n would silently miss every feature and
    predict bias-only. Shorter keys are legitimate boundary grams of
    the same space (a document shorter than n-2 chars emits one
    sub-n gram), and scoring at n reproduces those same short grams
    for the same short documents, so max is exact — not a
    heuristic — whenever at least one full-length feature survived
    distillation."""
    lens = {len(w) for _, ws in model.values() for w in ws}
    return max(lens) if lens else 3


def language_id_model(
    docs: DataFrame,
    model,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_literal_vocab: int | None = None,
    max_broadcast_vocab: int = 2_000_000,
    min_score: float | None = None,
) -> DataFrame:
    """(id, predicted_lang, lang_score): the TRAINED third rung of
    language ID — per-language one-vs-rest linear scores over
    character-n-gram features, argmax with the model's declared
    language order as the deterministic tiebreak (first listed wins).
    ``lang_score`` is the winning language's sigmoid probability,
    rounded to 6 decimals (so literal and join paths agree bit-for-bit
    and the DuckDB oracle can replay it).

    ``model`` is a ``training.LanguageIdModel`` or its literal mapping
    form ``{lang: (bias, {feature: weight})}`` (from
    ``training.top_features`` / ``LanguageIdModel.as_literal`` or
    :data:`PINNED_LANGID_MODEL`). The mapping form's n-gram size is
    recovered from its feature-key lengths (every
    ``char_ngram_text_sql`` feature is exactly n characters), so a
    4-gram-trained distilled model scores with 4-grams — never
    silently with the default 3.

    Scale shape, chosen by the measured total vocabulary (the
    :func:`linear_text_score` pattern): a mapping under
    ``max_literal_vocab`` total features inlines as literal SQL maps —
    pure map-side projection, zero shuffle, the form
    ``curation.map_side_curation`` and streaming ingest require;
    larger models run ONE n-gram explode → (lang, word, weight) join
    (broadcast under ``max_broadcast_vocab``, shuffle join above) →
    per-doc pivot over the bounded language list → the same argmax.
    Both paths produce identical predictions (test-asserted).

    ``min_score`` is the unknown-language floor on the WINNING
    sigmoid probability (:data:`UNKNOWN_LANG` below it): one-vs-rest
    models answer "is this language X?" per language, so
    out-of-inventory text — for which every answer is "no" — has a
    low max sigmoid, where a forced argmax would still file it under
    the least-bad label.
    """
    from collections.abc import Mapping as _Mapping

    if isinstance(model, _Mapping):
        # the mapping form drops the ngram field; the feature keys
        # carry it (and the form is average-normalized by convention,
        # enforced at distill time by training.top_features/as_literal)
        ftext = char_ngram_text_sql(text_col, _mapping_ngram(model))
        average = True
        total = sum(len(w) for _, w in model.values())
        if max_literal_vocab is None:
            max_literal_vocab = MAX_LITERAL_FEATURES
        if total <= max_literal_vocab:
            x = _null_text_guard(
                _langid_literal_struct(model, ftext), text_col
            )
            return (
                docs.select(F.col(id_col), x.alias("__lx"))
                .select(
                    F.col(id_col),
                    _floor_pred(
                        F.col("__lx").getField("l"),
                        F.col("__lx").getField("s"),
                        min_score,
                    ).alias("predicted_lang"),
                    F.col("__lx").getField("s").alias("lang_score"),
                )
            )
        languages = list(model)
        spark = docs.sparkSession
        weights = spark.createDataFrame(
            [
                (lang, w, float(x))
                for lang, (_, ws) in model.items()
                for w, x in ws.items()
            ],
            "lang string, word string, weight double",
        )
        biases = {lang: float(b) for lang, (b, _) in model.items()}
        n_vocab = total  # known driver-side — no re-measuring job
    else:
        languages = list(model.languages)
        weights = model.weights
        biases = dict(model.biases)
        average = bool(model.average)
        ftext = char_ngram_text_sql(text_col, int(model.ngram))
        n_vocab = weights.count()  # measured bound, as everywhere else
    w = (
        F.broadcast(weights)
        if n_vocab <= max_broadcast_vocab
        else weights.hint("merge")
    )
    base = docs.select(
        F.col(id_col),
        F.expr(f"split({ftext}, ' ')").alias("__grams"),
    )
    sums = (
        base.select(id_col, F.explode("__grams").alias("word"))
        .join(w, on="word", how="inner")
        .groupBy(id_col)
        .pivot("lang", languages)
        .agg(F.sum("weight"))
    )
    scored = base.select(
        id_col, F.expr("size(__grams)").cast("double").alias("__n")
    ).join(sums, on=id_col, how="left")
    probs: list[tuple[str, object]] = []
    for lang in languages:
        contrib = F.coalesce(F.col(f"`{lang}`"), F.lit(0.0))
        if average:
            contrib = contrib / F.col("__n")
        score = F.round(F.lit(biases[lang]) + contrib, 6)
        probs.append(
            (
                lang,
                F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-score)), 6),
            )
        )
    best = F.greatest(*[p for _, p in probs]) if len(probs) > 1 else probs[0][1]
    pred = F.when(F.lit(False), F.lit(None))
    for lang, p in probs:
        pred = pred.when(p == best, F.lit(lang))
    return scored.select(
        F.col(id_col),
        _floor_pred(pred, best, min_score).alias("predicted_lang"),
        best.alias("lang_score"),
    )


def with_language(
    docs: DataFrame,
    *,
    method: str = "ngram",
    text_col: str = "text",
    lang_col: str = "lang",
    model=None,
    min_score: float | None = None,
) -> DataFrame:
    """``docs`` with ``lang_col`` (over)written by the predicted
    language — the attach-in-place face of :func:`language_id` /
    :func:`language_id_ngram` for pipelines whose input has no (or an
    untrusted) language column. Two projections, zero shuffle, zero
    join: the trigram stream is materialized once in a helper column
    and dropped.

    ``min_score`` applies the unknown-language floor of the chosen
    rung (see :func:`language_id` / :func:`language_id_ngram` /
    :func:`language_id_model`): below it ``lang_col`` is
    :data:`UNKNOWN_LANG`, so a downstream ``languages=`` keep-list
    (``curation.CurationConfig``) composes naturally — out-of-
    inventory text lands in the ``und`` bucket instead of polluting
    whichever language scored least badly.

    ``method="model"`` attaches the TRAINED rung's prediction
    (:func:`language_id_model`) and requires ``model`` in the literal
    mapping form under the map-side bound — this face must stay
    shuffle-free (it is what ``curation.map_side_curation`` and
    streaming ingest call), so a DataFrame-weights model belongs to
    the batch scorer, distilled first via ``training.top_features``."""
    if method == "model":
        from collections.abc import Mapping as _Mapping

        if not isinstance(model, _Mapping):
            raise ValueError(
                "with_language(method='model') needs the literal "
                "mapping form {lang: (bias, {feature: weight})} — "
                "distill a trained model with training.top_features"
            )
        total = sum(len(w) for _, w in model.values())
        if total > MAX_LITERAL_FEATURES:
            raise ValueError(
                f"model has {total} features, above the map-side "
                f"literal bound ({MAX_LITERAL_FEATURES}); distill "
                "with a smaller k or score in batch via "
                "language_id_model"
            )
        ftext = char_ngram_text_sql(text_col, _mapping_ngram(model))
        x = _null_text_guard(
            _langid_literal_struct(model, ftext), text_col
        )
        # ONE self-contained expression (the scorer struct bound once
        # — round 9): a chain that references the language column k
        # times (keep-list filter, audit flag, mixture key) then
        # carries k copies of the scorer, not 2k (the floor's .l/.s
        # double-access used to double every downstream copy —
        # measured 72.7 → 45.6 s on the 50k-doc curation_report)
        return docs.drop(
            *[c for c in (lang_col,) if c in docs.columns]
        ).withColumn(lang_col, _floor_lang_col(x, min_score))
    if model is not None:
        raise ValueError(
            f"model= is only meaningful with method='model', got "
            f"method={method!r}"
        )
    if method in ("ngram", "lexicon"):
        x = _null_text_guard(
            _ngram_lang_struct(text_col)
            if method == "ngram"
            else _lexicon_struct(text_col),
            text_col,
        )
        return docs.drop(
            *[c for c in (lang_col,) if c in docs.columns]
        ).withColumn(lang_col, _floor_lang_col(x, min_score))
    raise ValueError(f"unknown language-id method: {method!r}")


def _repetition_exprs(
    text_col: str, segmentation: str = "whitespace"
) -> list[tuple[str, str]]:
    """(alias, SQL expr) pairs for the Gopher-style repetition features.

    All three are computed from the word array of one row — map-side,
    shuffle-free (Rae et al. 2021 'Gopher' §A.1 repetition filters):

    * ``dup_word_fraction``   — 1 - distinct/total words; linearithmic.
    * ``dup_bigram_fraction`` — same over adjacent word bigrams.
    * ``top_word_fraction``   — occurrences of the modal word / total.
      O(distinct × n) per document via a filter scan per distinct word;
      fine for natural-language vocabularies (distinct ≪ n for the
      repetitive docs this filter targets). For adversarially long
      all-distinct documents the scalable form is explode + two-level
      groupBy (one shuffle) — this map-side form is chosen because the
      filter runs per-row over 100 TB where a shuffle costs more than
      the per-doc scan.

    ``segmentation="script"`` (round 9) measures the same fractions
    over the script-segmented word stream (:func:`_words_sql`) — on a
    zh/ja/th document the whitespace stream is ONE word (dup fractions
    pinned at 0/1 regardless of content), the segmented stream is the
    character sequence, where repetition is meaningful again. Script
    mode binds the word array once as a lambda variable per alias
    (``transform(array(ws), ...)[0]``, the round-8 anti-blowup
    pattern); whitespace mode keeps the historical expression text
    bit-for-bit (pinned oracle hashes).
    """
    if segmentation == "script":
        ws, n = "ws", "size(ws)"
    else:
        ws = _words_sql(text_col, segmentation)
        n = f"size({ws})"
    bi = (
        f"zip_with(slice({ws}, 1, {n} - 1), slice({ws}, 2, {n} - 1),"
        f" (a, b) -> concat(a, ' ', b))"
    )
    top = (
        f"array_max(transform(array_distinct({ws}),"
        f" w -> size(filter({ws}, x -> x = w))))"
    )
    exprs = [
        (
            "dup_word_fraction",
            f"round(1.0 - size(array_distinct({ws})) / cast({n} as double), 6)",
        ),
        (
            "dup_bigram_fraction",
            f"round(CASE WHEN {n} >= 2 THEN"
            f" 1.0 - size(array_distinct({bi})) / cast({n} - 1 as double)"
            f" ELSE 0.0 END, 6)",
        ),
        (
            "top_word_fraction",
            f"round({top} / cast({n} as double), 6)",
        ),
    ]
    if segmentation == "script":
        # the segmented array can be EMPTY (empty/whitespace-only
        # text, impossible under the historical unfiltered split):
        # zero words means zero repetition, not a divide-by-zero
        # (review-caught, round 9)
        exprs = [
            (a, f"CASE WHEN {n} = 0 THEN 0.0 ELSE {e} END")
            for a, e in exprs
        ]
    if segmentation == "script":
        outer = _words_sql(text_col, segmentation)
        exprs = [
            (a, f"transform(array({outer}), ws -> {e})[0]")
            for a, e in exprs
        ]
    return exprs


def repetition_metrics(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    segmentation: str = "whitespace",
) -> DataFrame:
    """(id, dup_word_fraction, dup_bigram_fraction, top_word_fraction).

    Gopher-style repetition quality filters (see
    :func:`_repetition_exprs`); a document whose mass concentrates in
    few repeated words/bigrams is boilerplate or spam and these are the
    standard drop signals. ``segmentation="script"`` measures them
    over the script-segmented word stream (space-free-script
    correctness — see :func:`segmented_text_sql`).
    """
    return docs.select(
        F.col(id_col),
        *[
            F.expr(e).alias(a)
            for a, e in _repetition_exprs(text_col, segmentation)
        ],
    )


def _quality_score_block(texts, include_repetition):
    """Per-batch feature lists for the vectorized whitespace-mode
    quality kernel — the value-identical twin of
    :func:`_quality_exprs` (+ :func:`_repetition_exprs`) in their
    historical whitespace spellings, including the NULL-text corner:
    ``size``/division over NULL stays NULL, but the banded CASEs fall
    through their ELSE, so NULL text yields
    (NULL, NULL, NULL, quality=0.0) and, with repetition,
    (dup_word=NULL, dup_bigram=0.0, top_word=NULL) — pinned by
    ``test_quality_score_kernel_matches_expression_twin``. All
    divisions/band checks run on RAW values; only the published
    columns round, through ``_round6_like_spark`` (Spark HALF_UP)."""
    import numpy as np

    from haplorec_spark.operators.similarity import _round6_like_spark

    stopset = frozenset(LANG_LEXICON["en"])
    n_rows = len(texts)
    nwords = [None] * n_rows
    raw = {
        k: np.full(n_rows, np.nan)
        for k in ("mean", "stop", "qual", "dupw", "dupb", "topw")
    }
    live = np.zeros(n_rows, dtype=bool)
    for i, t in enumerate(texts):
        if t is None:
            # CASE-banded columns fall through to 0.0 on NULL input
            raw["qual"][i] = 0.0
            raw["dupb"][i] = 0.0
            continue
        live[i] = True
        ws = t.lower().split(" ")
        n = len(ws)  # split arity is always >= 1
        nwords[i] = n
        nonspace = len(t) - t.count(" ")
        mean = nonspace / n
        hits = 0
        for w in ws:
            if w in stopset:
                hits += 1
        stop = hits / n
        len_ok = 1.0 if 10 <= n <= 100000 else 0.0
        wlen_ok = 1.0 if 2 <= mean <= 12 else 0.0
        stop_ok = 1.0 if stop >= 0.01 else 0.0
        raw["mean"][i] = mean
        raw["stop"][i] = stop
        raw["qual"][i] = 0.4 * len_ok + 0.3 * wlen_ok + 0.3 * stop_ok
        if include_repetition:
            distinct = set(ws)
            raw["dupw"][i] = 1.0 - len(distinct) / n
            if n >= 2:
                bigrams = {
                    f"{ws[j]} {ws[j + 1]}" for j in range(n - 1)
                }
                raw["dupb"][i] = 1.0 - len(bigrams) / (n - 1)
            else:
                raw["dupb"][i] = 0.0
            counts: dict = {}
            top = 0
            for w in ws:
                c = counts.get(w, 0) + 1
                counts[w] = c
                if c > top:
                    top = c
            raw["topw"][i] = top / n
    for k in raw:
        raw[k] = _round6_like_spark(raw[k])

    def col(key, keep_on_null=False):
        return [
            float(raw[key][i])
            if live[i] or (keep_on_null and not np.isnan(raw[key][i]))
            else None
            for i in range(n_rows)
        ]

    out = [
        nwords,
        col("mean"),
        col("stop"),
        col("qual", keep_on_null=True),
    ]
    if include_repetition:
        out += [
            col("dupw"),
            col("dupb", keep_on_null=True),
            col("topw"),
        ]
    return out


def quality_score(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    include_repetition: bool = False,
    segmentation: str = "whitespace",
) -> DataFrame:
    """Per-document quality features + combined score in [0, 1].

    Features mirror standard corpus-filtering heuristics: document
    length band, mean word length band, stopword ratio. The combined
    score is a fixed-weight sum, rounded for cross-engine stability.
    With ``include_repetition`` the Gopher repetition features are
    appended in the same single map-side projection (no join).

    ``segmentation="script"`` (round 9) computes every word-based
    feature over the script-segmented stream and appends a measured
    ``spacefree_fraction`` column — see :func:`_quality_exprs`. This
    is the mode that stops the quality gate from silently rejecting
    every zh/ja/th document (whitespace mode sees one giant "word":
    n_words = 1 fails the length band, mean word length is the whole
    document, stopword ratio is 0).

    Round 12 (guide §4.2): the whitespace mode of the STANDALONE
    operator scores through a vectorized ``mapInArrow`` kernel
    (:func:`_quality_score_block`) — the repetition features'
    interpreted HOFs dominated the gate (``top_word_fraction`` is a
    per-distinct-word filter scan, measured 0.47 s → 1.68 s at sf0.1
    when repetition is included), and the kernel computes the same
    features in one Python pass per batch. Value-identical row for
    row (edge-parity-pinned vs the expression twin, NULL-text CASE
    fall-throughs included); one column-pruned scan, zero shuffle.
    The ``_quality_exprs`` Column face is unchanged — curation
    chains and script mode keep the expression program (script mode
    carries the waiver/fraction machinery whose oracle pins the
    expression spelling).
    """
    if segmentation == "whitespace":
        sel = docs.select(F.col(id_col), F.col(text_col))
        fields = [
            sel.schema[id_col],
            T.StructField("n_words", T.IntegerType()),
            T.StructField("mean_word_len", T.DoubleType()),
            T.StructField("stopword_ratio", T.DoubleType()),
            T.StructField("quality", T.DoubleType()),
        ]
        if include_repetition:
            fields += [
                T.StructField("dup_word_fraction", T.DoubleType()),
                T.StructField("dup_bigram_fraction", T.DoubleType()),
                T.StructField("top_word_fraction", T.DoubleType()),
            ]
        out_type = T.StructType(fields)
        names = [f.name for f in fields]

        def kernel(batches):
            import pyarrow as pa

            for batch in batches:
                cols = _quality_score_block(
                    batch.column(1).to_pylist(), include_repetition
                )
                arrays = [batch.column(0)]
                arrays.append(pa.array(cols[0], type=pa.int32()))
                for c in cols[1:]:
                    arrays.append(pa.array(c, type=pa.float64()))
                yield pa.RecordBatch.from_arrays(arrays, names=names)

        return sel.mapInArrow(kernel, out_type)
    exprs = _quality_exprs(
        text_col, include_repetition, segmentation=segmentation
    )
    return docs.select(
        F.col(id_col), *[F.expr(e).alias(a) for a, e in exprs]
    )


#: Minimum fraction of dense-script characters (over non-space
#: characters) at which the mean-word-length band is waived under
#: ``segmentation="script"`` — the [2, 12] band is a LATIN-alphabet
#: heuristic; a predominantly Han/Kana/Thai document's segmented words
#: are single characters (mean ≈ 1) by construction, and Hangul packs
#: 2–3 letters per syllable block so Korean words measure 2–3 "chars"
#: — in both cases the band misreads a normal document as gibberish.
#: 0.3 keeps the band for mostly-Latin text with incidental CJK spans
#: while waiving it once the document is substantially dense-script.
SPACEFREE_WLEN_WAIVER = 0.3

#: The waiver's character class: the space-free scripts PLUS Hangul
#: (spaced, so never segmented, but its syllable blocks make the
#: chars-per-word band systematically under-read).
_WLEN_WAIVER_CLASS = (
    f"[{_codepoint_class(_SPACEFREE_RANGES + _HANGUL_RANGES)}]"
)


def _spacefree_fraction_sql(
    text_col: str, char_class: str = SPACEFREE_CLASS
) -> str:
    """SQL for the fraction of non-space characters matching
    ``char_class`` (default: the space-free scripts — the measured
    script-fraction signal; 0.0 for empty/whitespace-only text)."""
    n_sf = f"size(regexp_extract_all({text_col}, '{char_class}', 0))"
    n_chars = f"length(replace({text_col}, ' ', ''))"
    return (
        f"CASE WHEN {n_chars} > 0"
        f" THEN {n_sf} / cast({n_chars} as double) ELSE 0.0 END"
    )


def _quality_exprs(
    text_col: str,
    include_repetition: bool,
    segmentation: str = "whitespace",
) -> list[tuple[str, str]]:
    """(alias, SQL expr) pairs of the quality/repetition features —
    shared by :func:`quality_score` (projection face) and
    ``curation.map_side_curation`` (attach-in-place face, usable on a
    streaming frame with no join).

    ``segmentation="whitespace"`` is the historical expression text,
    bit-for-bit (pinned oracle hashes). ``"script"`` computes words
    over the script-segmented stream (:func:`_words_sql`), widens the
    stopword lexicon with the space-free-script function
    characters/words (zh/ja/th entries can only ever hit segmented
    CJK tokens, so Latin documents are unaffected), waives the
    mean-word-length band for predominantly space-free-script
    documents (:data:`SPACEFREE_WLEN_WAIVER` — segmented CJK words
    are single characters by construction), and appends the measured
    ``spacefree_fraction`` column. Each script-mode feature binds its
    word array once as a lambda variable (the round-8 anti-blowup
    pattern)."""
    if segmentation == "script":
        words, n_words = "ws", "size(ws)"
        # the filtered segmented array can be EMPTY for empty or
        # whitespace-only text (the historical unfiltered split never
        # was): floor every divisor at 1 so such rows get
        # deterministic zeros instead of an ANSI DIVIDE_BY_ZERO
        # (review-caught, round 9)
        n_div = "greatest(size(ws), 1)"
        stop_lex = (
            LANG_LEXICON["en"] + LANG_LEXICON["zh"] + LANG_LEXICON["ja"]
            + LANG_LEXICON["ko"] + LANG_LEXICON["th"]
        )
    else:
        words = _words_sql(text_col, segmentation)
        n_words = f"size({words})"
        n_div = n_words  # unfiltered split arity is always >= 1
        stop_lex = LANG_LEXICON["en"]
    stop_ratio = (
        f"{_hit_count(words, stop_lex)} / cast({n_div} as double)"
    )
    mean_word_len = (
        f"(length(replace({text_col}, ' ', ''))) / cast({n_div} as double)"
    )
    len_ok = f"CASE WHEN {n_words} >= 10 AND {n_words} <= 100000 THEN 1.0 ELSE 0.0 END"
    wlen_band = f"CASE WHEN {mean_word_len} >= 2 AND {mean_word_len} <= 12 THEN 1.0 ELSE 0.0 END"
    if segmentation == "script":
        wlen_ok = (
            f"CASE WHEN {_spacefree_fraction_sql(text_col, _WLEN_WAIVER_CLASS)}"
            f" >= {SPACEFREE_WLEN_WAIVER!r} THEN 1.0 ELSE {wlen_band} END"
        )
    else:
        wlen_ok = wlen_band
    stop_ok = f"CASE WHEN {stop_ratio} >= 0.01 THEN 1.0 ELSE 0.0 END"
    exprs = [
        ("n_words", n_words),
        ("mean_word_len", f"round({mean_word_len}, 6)"),
        ("stopword_ratio", f"round({stop_ratio}, 6)"),
        (
            "quality",
            f"round(cast(0.4 * {len_ok} + 0.3 * {wlen_ok} + 0.3 * {stop_ok}"
            f" as double), 6)",
        ),
    ]
    if segmentation == "script":
        outer = _words_sql(text_col, segmentation)
        exprs = [
            (a, f"transform(array({outer}), ws -> {e})[0]")
            for a, e in exprs
        ]
        exprs.append(
            (
                "spacefree_fraction",
                f"round({_spacefree_fraction_sql(text_col)}, 6)",
            )
        )
    if include_repetition:
        exprs.extend(_repetition_exprs(text_col, segmentation))
    return exprs


def token_counts(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    segmentation: str = "whitespace",
) -> DataFrame:
    """(id, n_ws_tokens, n_regex_tokens, chars_per_token).

    n_ws_tokens: single-space split arity. n_regex_tokens: BPE-ish
    pre-tokenization — maximal letter runs, digit runs, and individual
    non-alphanumeric marks — the standard proxy for LLM token budgeting.

    ``segmentation="script"`` (round 9) counts ``n_ws_tokens`` over
    the script-segmented word stream (a zh/ja/th document is otherwise
    ONE whitespace token — a 10,000-character budget reported as 1);
    ``chars_per_token`` keeps the ORIGINAL character count in its
    numerator (segmentation spaces are an engine artifact, not
    content). ``n_regex_tokens`` is segmentation-independent by
    construction: every non-alphanumeric character — including each
    CJK character — is already its own regex token.
    """
    ws = _words_sql(text_col, segmentation)
    # script mode's filtered array can be empty (whitespace-only
    # text); floor the ratio divisor (review-caught, round 9). The
    # whitespace expression stays bit-identical (its arity is >= 1).
    n_div = (
        f"greatest(size({ws}), 1)"
        if segmentation == "script"
        else f"size({ws})"
    )
    return docs.select(
        F.col(id_col),
        F.expr(f"size({ws})").alias("n_ws_tokens"),
        F.expr(
            f"size(regexp_extract_all(lower({text_col}), '{_TOKEN_REGEX}', 0))"
        ).alias("n_regex_tokens"),
        F.expr(
            f"round(length({text_col}) / cast({n_div}"
            f" as double), 6)"
        ).alias("chars_per_token"),
    )


#: Per-script character classes for :func:`script_fractions` — the
#: measured script-mix signal that tells an operator whether a corpus
#: slice needs ``segmentation="script"`` and which language family it
#: is. Latin covers ASCII + Latin-1 letters + Latin Extended-A (the
#: engine's European inventory); the space-free classes reuse the
#: segmentation ranges; Hangul is its own (spaced) family.
SCRIPT_CLASSES: dict[str, str] = {
    "latin": "[A-Za-zÀ-ÖØ-öø-ÿĀ-ſ]",
    "han": f"[{_codepoint_class([(0x3400, 0x4DBF), (0x4E00, 0x9FFF), (0xF900, 0xFAFF)])}]",
    "kana": f"[{_codepoint_class([(0x3041, 0x309F), (0x30A0, 0x30FF), (0x31F0, 0x31FF)])}]",
    "hangul": f"[{_codepoint_class(_HANGUL_RANGES)}]",
    "thai": f"[{_codepoint_class([(0x0E01, 0x0E5B)])}]",
}


def script_fractions(
    docs: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, n_chars, latin_fraction, han_fraction, kana_fraction,
    hangul_fraction, thai_fraction, other_fraction,
    spacefree_fraction): the measured per-document script mix.

    The routing/audit face of space-free-script support (round 9):
    fractions are over NON-SPACE characters (0.0 throughout for
    empty/whitespace-only text); ``other_fraction`` is the residual
    (digits, punctuation, scripts outside the five classes), so the
    six script columns sum to 1 for non-empty text;
    ``spacefree_fraction`` is the segmentation trigger signal
    (han + kana + thai — the :data:`SPACEFREE_CLASS` definition, the
    same expression the script-mode quality band waiver measures).
    One map-side projection — a handful of ``regexp_extract_all``
    counts per row, zero shuffle at any corpus size.
    """
    n_chars = f"length(replace({text_col}, ' ', ''))"
    counts = {
        name: f"size(regexp_extract_all({text_col}, '{cls}', 0))"
        for name, cls in SCRIPT_CLASSES.items()
    }

    def frac(num: str) -> str:
        return (
            f"round(CASE WHEN {n_chars} > 0"
            f" THEN {num} / cast({n_chars} as double)"
            f" ELSE 0.0 END, 6)"
        )

    other = f"({n_chars} - {' - '.join(counts.values())})"
    return docs.select(
        F.col(id_col),
        F.expr(n_chars).alias("n_chars"),
        *[
            F.expr(frac(c)).alias(f"{name}_fraction")
            for name, c in counts.items()
        ],
        F.expr(frac(other)).alias("other_fraction"),
        F.expr(
            f"round({_spacefree_fraction_sql(text_col)}, 6)"
        ).alias("spacefree_fraction"),
    )


#: PII patterns, ordered: earlier patterns are redacted first, so the
#: SSN pattern wins over the phone pattern on xxx-xx-xxxx strings.
#: Restricted to constructs with identical Java-regex / RE2 semantics
#: (classes, bounded repeats, \\b word boundaries) so any SQL engine
#: with regexp_replace reproduces the output byte-for-byte.
PII_PATTERNS: list[tuple[str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b"),
    ("phone", r"\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b"),
]


def blocked_term_exprs(
    text_col: str, terms, segmentation: str = "whitespace"
) -> tuple[str, str, str]:
    """(n_words, n_blocked, blocked_fraction) SQL over the lowercased
    word stream — shared by :func:`blocked_term_fraction`, the
    curation stage, and the DuckDB oracle twin. Whole-word matches
    only (the C4/RefinedWeb convention — substring matching bans
    'class' for 'ass'); the term list is a literal InSet under the
    map-side bound."""
    lowered = sorted({t.lower() for t in terms})
    if not lowered:
        raise ValueError("blocked term list is empty")
    if len(lowered) > MAX_LITERAL_FEATURES:
        raise ValueError(
            f"{len(lowered)} blocked terms exceed the literal bound "
            f"{MAX_LITERAL_FEATURES}; score with linear_text_score's "
            "join path or split the list"
        )
    ws = _words_sql(text_col, segmentation)
    arr = ", ".join("'" + t.replace("'", "''") + "'" for t in lowered)
    n_words = f"size(filter({ws}, w -> w != ''))"
    n_blocked = f"size(filter({ws}, w -> w in ({arr})))"
    frac = (
        f"CASE WHEN {n_words} > 0 THEN round({n_blocked}"
        f" / cast({n_words} as double), 6) ELSE cast(0.0 as double) END"
    )
    return n_words, n_blocked, frac


def blocked_term_fraction(
    docs: DataFrame,
    terms,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    segmentation: str = "whitespace",
) -> DataFrame:
    """(id, n_words, n_blocked, blocked_fraction): whole-word hits
    against a blocklist — the C4-style "bad words" gate's audit face
    (C4 drops on ANY hit; graded policies set a fraction threshold).

    One map-side projection (the lexicon rung's InSet shape): zero
    shuffle, zero Python, the list a literal. Wire the drop through
    ``CurationConfig.blocked_terms`` / ``max_blocked_fraction``.
    """
    n_words, n_blocked, frac = blocked_term_exprs(
        text_col, terms, segmentation
    )
    return docs.select(
        F.col(id_col),
        F.expr(n_words).cast("int").alias("n_words"),
        F.expr(n_blocked).cast("int").alias("n_blocked"),
        F.expr(frac).alias("blocked_fraction"),
    )


def duck_blocked_term_sql(
    text_expr: str, terms, segmentation: str = "whitespace"
) -> str:
    """DuckDB twin of :func:`blocked_term_exprs` (same lowered sorted
    term literal, same word stream via the shared duck twins)."""
    lowered = sorted({t.lower() for t in terms})
    arr = ", ".join("'" + t.replace("'", "''") + "'" for t in lowered)
    if segmentation == "script":
        ws = _duck_words_sql(text_expr)
    else:
        ws = f"string_split(lower({text_expr}), ' ')"
    n_words = f"len(list_filter({ws}, w -> w <> ''))"
    n_blocked = f"len(list_filter({ws}, w -> list_contains([{arr}], w)))"
    frac = (
        f"CASE WHEN {n_words} > 0 THEN round({n_blocked}"
        f" / {n_words}::DOUBLE, 6) ELSE 0.0 END"
    )
    return (
        f"{n_words}::INT AS n_words, {n_blocked}::INT AS n_blocked,"
        f" {frac} AS blocked_fraction"
    )


# --------------------------------------------- encoding quality (round 10)

#: Characters that should never survive a CLEAN decode: U+FFFD (the
#: decoder already admitted defeat) and stray C0/C1-adjacent controls
#: (NUL..BS, VT, FF, SO..US, DEL — tab/newline/CR excluded: legitimate
#: whitespace). Literal chars, the :func:`_codepoint_class` contract —
#: valid and identical in Java regex, RE2 (DuckDB), and Python re.
_STRAY_CONTROL_CLASS = (
    "[" + _codepoint_class(
        [(0x00, 0x08), (0x0B, 0x0C), (0x0E, 0x1F), (0x7F, 0x7F)]
    ) + "]"
)

#: UTF-8-read-as-Latin-1 double-encoding digrams — the dominant
#: mojibake family on real crawls: a two-byte UTF-8 sequence decoded
#: byte-per-char yields 'Ã'/'Â'/'â' followed by a Latin-1-supplement
#: punctuation character (U+00A0–U+00BF: ¡¢£¤… — combinations that no
#: natural-language text produces; 'São'-style legitimate Ã is
#: followed by ASCII letters, which this class excludes), plus the
#: 'â€' digram ('â€™' is the mojibake of ’). A deterministic
#: heuristic, not a decoder: it flags the common damage, it does not
#: certify cleanliness.
_MOJIBAKE_PATTERN = (
    "(â€|[ÃÂ][" + _codepoint_class([(0xA0, 0xBF)]) + "])"
)


def encoding_quality_exprs(text_col: str) -> dict[str, str]:
    """SQL exprs {replacement_fraction, control_fraction,
    mojibake_fraction, encoding_damage} — per-character rates of
    decode damage, all over ``length(text)`` with a zero-length guard
    (empty text scores 0.0 everywhere). ``encoding_damage`` is the
    single-number sum the curation gate thresholds. Pure map-side
    regexp counts; the DuckDB twin is :func:`duck_encoding_quality_sql`."""
    n = f"greatest(length({text_col}), 1)"

    def frac(pattern: str) -> str:
        return (
            f"round(size(regexp_extract_all({text_col},"
            f" '{pattern}', 0)) / cast({n} as double), 6)"
        )

    rep = frac("�")
    ctl = frac(_STRAY_CONTROL_CLASS)
    moj = frac(_MOJIBAKE_PATTERN)
    return {
        "replacement_fraction": rep,
        "control_fraction": ctl,
        "mojibake_fraction": moj,
        "encoding_damage": f"round({rep} + {ctl} + {moj}, 6)",
    }


def encoding_quality(
    docs: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, replacement_fraction, control_fraction, mojibake_fraction,
    encoding_damage): the crawl-decode QA audit.

    WARC ingestion honors declared charsets and quarantines failed
    decodes, but the web's routine damage is text that decodes
    CLEANLY to the wrong thing — double-encoded UTF-8 ('Ã©' where 'é'
    belongs), lossy upstream conversions (U+FFFD), and binary spill
    (stray control characters). Per-character rates, one map-side
    projection, zero shuffle at any corpus size; gate via
    ``CurationConfig.max_encoding_damage``.
    """
    xs = encoding_quality_exprs(text_col)
    return docs.select(
        F.col(id_col),
        *[F.expr(sql).alias(name) for name, sql in xs.items()],
    )


def _duck_encoding_exprs(text_expr: str) -> dict[str, str]:
    """The four :func:`encoding_quality_exprs` expressions in their
    DuckDB spellings (shared by :func:`duck_encoding_quality_sql` and
    :func:`duck_fix_encoding_sql`)."""
    n = f"greatest(length({text_expr}), 1)"

    def frac(pattern: str) -> str:
        p = pattern.replace("'", "''")
        return (
            f"round(len(regexp_extract_all({text_expr}, '{p}'))"
            f" / {n}::DOUBLE, 6)"
        )

    rep = frac("�")
    ctl = frac(r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]")
    moj = frac(_MOJIBAKE_PATTERN)
    return {
        "replacement_fraction": rep,
        "control_fraction": ctl,
        "mojibake_fraction": moj,
        "encoding_damage": f"round({rep} + {ctl} + {moj}, 6)",
    }


def duck_encoding_quality_sql(text_expr: str) -> str:
    """DuckDB twin of :func:`encoding_quality_exprs` — same classes,
    same rounding, ONE spelling difference: the control class uses
    RE2 ``\\x`` hex escapes instead of literal characters, because a
    literal NUL terminates DuckDB's string parser (standard-SQL
    literals pass backslashes through to RE2 untouched, while Spark's
    parser would strip the unknown ``\\x`` escape — so each engine
    gets the one spelling it can carry)."""
    xs = _duck_encoding_exprs(text_expr)
    return ", ".join(f"{sql} AS {name}" for name, sql in xs.items())


# ---------------------------------------------- encoding repair (round 11)

#: cp1252's printable extensions over Latin-1: byte values 0x80–0x9F
#: decode to these codepoints under Windows-1252 — the charset real
#: browsers (and hence real mojibake) actually used when a page said
#: Latin-1. € ‚ ƒ „ … † ‡ ˆ ‰ Š ‹ Œ Ž ' ' " " • – — ˜ ™ š › œ ž Ÿ.
_CP1252_EXTRAS = [
    0x20AC, 0x201A, 0x0192, 0x201E, 0x2026, 0x2020, 0x2021, 0x02C6,
    0x2030, 0x0160, 0x2039, 0x0152, 0x017D, 0x2018, 0x2019, 0x201C,
    0x201D, 0x2022, 0x2013, 0x2014, 0x02DC, 0x2122, 0x0161, 0x203A,
    0x0153, 0x017E, 0x0178,
]


def _sloppy_cp1252(bs: bytes) -> str:
    """Decode bytes the way the damage was made: Windows-1252, with
    the five unmapped holes (0x81 0x8D 0x8F 0x90 0x9D) falling back to
    their Latin-1 C1 controls — the public "sloppy cp1252" convention
    (what ftfy calls sloppy-windows-1252), matching decoders that
    never fail."""
    out = []
    for b in bs:
        try:
            out.append(bytes([b]).decode("cp1252"))
        except UnicodeDecodeError:
            out.append(chr(b))
    return "".join(out)


def _mojibake_repair_rules() -> list[tuple[str, str]]:
    """(damaged, repaired) substitution pairs reversing ONE level of
    UTF-8-read-as-cp1252 double encoding, for every target in the
    Latin-1 supplement (U+00A0–U+00FF: the accented-Latin repertoire
    'Ã©'-style damage hits) plus the cp1252 punctuation family
    ('â€™' → ’, 'â‚¬' → €). Each damaged form is the target's UTF-8
    bytes decoded via :func:`_sloppy_cp1252` — deterministic and
    unique per target — sorted longest-first so 3-char punctuation
    forms never lose a prefix to a 2-char rule. The table is
    byte-faithful: 'Ã' + ASCII letter ('São') is NOT a rule source
    (trailing UTF-8 bytes decode to 0x80–0xBF-range characters,
    never ASCII), so legitimate accented text is untouched by
    construction."""
    targets = [chr(c) for c in range(0xA0, 0x100)] + [
        chr(c) for c in _CP1252_EXTRAS
    ]
    rules = [
        (_sloppy_cp1252(t.encode("utf-8")), t) for t in targets
    ]
    rules.sort(key=lambda r: (-len(r[0]), r[0]))
    assert not any("'" in s or "'" in t for s, t in rules)
    return rules


_REPAIR_RULES = _mojibake_repair_rules()


def _repair_rule_items_sql() -> str:
    """The rules table as a shared SQL literal item list:
    ``'damaged|repaired', ...`` ('|' never occurs in either side —
    asserted at build). Both engines fold replace() over this ONE
    literal; a nested-replace chain was rejected because 123 levels
    exceed DuckDB's 128-deep expression binder."""
    assert not any("|" in s or "|" in t for s, t in _REPAIR_RULES)
    return ", ".join(f"'{s}|{t}'" for s, t in _REPAIR_RULES)


def fix_encoding_chain_sql(text_expr: str) -> str:
    """The repair substitution chain in Spark SQL: a left fold of
    ``replace`` over the shared rules literal
    (:func:`_repair_rule_items_sql`) — depth-2 expression regardless
    of table size. DuckDB spells the same fold via
    ``list_reduce(list_prepend(...))`` (:func:`duck_fix_encoding_sql`);
    the rules literal is byte-identical between the engines."""
    return (
        f"aggregate(array({_repair_rule_items_sql()}), {text_expr},"
        " (acc, x) -> replace(acc,"
        " element_at(split(x, '\\\\|'), 1),"
        " element_at(split(x, '\\\\|'), 2)))"
    )


def duck_fix_encoding_chain_sql(text_expr: str) -> str:
    """DuckDB spelling of :func:`fix_encoding_chain_sql`'s fold (1.0
    has no init-value list_reduce, so the text rides in as the
    prepended first element; it is never split, so a '|' in the
    DOCUMENT is safe)."""
    return (
        f"list_reduce(list_prepend({text_expr},"
        f" [{_repair_rule_items_sql()}]),"
        " (acc, x) -> replace(acc,"
        " string_split(x, '|')[1], string_split(x, '|')[2]))"
    )


def fix_encoding_expr(text_col: str) -> str:
    """Spark SQL expression: the repaired text when the repair
    STRICTLY reduces :func:`encoding_quality_exprs`'s
    ``encoding_damage``, else the original — so a document the table
    cannot help (pure U+FFFD loss, legitimate text) passes through
    bit-identical, and no repair can ever make a document worse.
    Documents with zero damage short-circuit past the chain (CASE
    branches evaluate lazily)."""
    repaired = fix_encoding_chain_sql(text_col)
    d_orig = encoding_quality_exprs(text_col)["encoding_damage"]
    d_rep = encoding_quality_exprs(repaired)["encoding_damage"]
    return (
        f"CASE WHEN ({d_orig}) = 0.0 THEN {text_col}"
        f" WHEN ({d_rep}) < ({d_orig}) THEN {repaired}"
        f" ELSE {text_col} END"
    )


def duck_fix_encoding_sql(text_expr: str) -> str:
    """DuckDB twin of :func:`fix_encoding_expr`: the same fold over
    the byte-identical rules literal
    (:func:`duck_fix_encoding_chain_sql`), the engine's own damage
    spellings for the acceptance guard."""
    repaired = duck_fix_encoding_chain_sql(text_expr)
    d_orig = _duck_encoding_exprs(text_expr)["encoding_damage"]
    d_rep = _duck_encoding_exprs(repaired)["encoding_damage"]
    return (
        f"CASE WHEN ({d_orig}) = 0.0 THEN {text_expr}"
        f" WHEN ({d_rep}) < ({d_orig}) THEN {repaired}"
        f" ELSE {text_expr} END"
    )


def with_fixed_encoding(
    docs: DataFrame, *, text_col: str, fixed_col: str
) -> DataFrame:
    """Attach ``fixed_col`` = repaired-or-original text, evaluating
    the 123-rule chain ONCE per row: the chain lands in its own
    projection column and the damage guard references that column —
    Catalyst does not collapse a non-cheap higher-order-function alias
    into its consumers, where the single-expression form
    (:func:`fix_encoding_expr`) re-instantiates the fold ~7× inside
    its own guard. Zero-damage rows skip the chain entirely (lazy CASE
    branch). The DataFrame-level face shared by :func:`fix_encoding`
    and both curation faces; the expression form remains for contexts
    that need one self-contained string (the DuckDB twin)."""
    tmp = "_fix_enc_rep"
    if tmp in docs.columns or fixed_col in docs.columns:
        raise ValueError(
            f"column collision: input already has {tmp!r} or "
            f"{fixed_col!r}"
        )
    d_orig = encoding_quality_exprs(text_col)["encoding_damage"]
    d_rep = encoding_quality_exprs(tmp)["encoding_damage"]
    chain = fix_encoding_chain_sql(text_col)
    return (
        docs.withColumn(
            tmp,
            F.expr(
                f"CASE WHEN ({d_orig}) = 0.0 THEN {text_col}"
                f" ELSE {chain} END"
            ),
        )
        .withColumn(
            fixed_col,
            F.expr(
                f"CASE WHEN ({d_rep}) < ({d_orig}) THEN {tmp}"
                f" ELSE {text_col} END"
            ),
        )
        .drop(tmp)
    )


def fix_encoding(
    docs: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, text_fixed, was_repaired): reverse the dominant crawl
    mojibake instead of dropping its documents.

    :func:`encoding_quality` DETECTS UTF-8-read-as-Latin-1/cp1252
    double encoding; this operator REPAIRS it — the digram families
    are deterministically reversible (re-encode as the wrong charset,
    re-decode as UTF-8: the public ftfy approach), so a curation
    pipeline that repairs keeps data the drop gate throws away. The
    repair is a finite substitution table (:func:`_mojibake_repair_rules`),
    applied only when it STRICTLY reduces ``encoding_damage`` —
    legitimate 'São'/'café' text is untouched both by table
    construction and by the guard. Scope: one level of the cp1252
    dialect, byte-faithful digrams only (a pipeline that also folded
    NBSP→space leaves 'Ã ' ambiguous with legitimate text, and this
    operator conservatively keeps it). Pure map-side projection —
    zero shuffle at any corpus size. Curation integration:
    ``CurationConfig(repair_encoding=True)``.
    """
    return with_fixed_encoding(
        docs.select(id_col, text_col), text_col=text_col,
        fixed_col="text_fixed",
    ).select(
        F.col(id_col),
        "text_fixed",
        (F.col("text_fixed") != F.col(text_col)).alias("was_repaired"),
    )


def redact_pii(
    docs: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, text_redacted, n_email, n_ipv4, n_ssn, n_phone).

    Pre-training PII scrub: each match is replaced by ``<TYPE>`` and
    counted (counts audit scrub coverage per shard). Map-side chained
    ``regexp_replace`` — shuffle-free at any scale. Redaction order
    follows :data:`PII_PATTERNS`; counts are measured on the original
    text, so a string matching several patterns reports under each.
    """
    redacted, counts = _redact_columns(text_col)
    return docs.select(
        F.col(id_col), redacted.alias("text_redacted"), *counts
    )


def _redact_columns(text_col: str):
    """(redacted Column, [count Columns]) — shared by
    :func:`redact_pii` and ``curation.map_side_curation``."""
    redacted = F.col(text_col)
    counts = []
    for name, pat in PII_PATTERNS:
        counts.append(
            F.size(
                F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0))
            ).alias(f"n_{name}")
        )
        redacted = F.regexp_replace(redacted, pat, f"<{name.upper()}>")
    return redacted, counts


def unigram_logprob_score(
    docs: DataFrame,
    *,
    vocab: DataFrame | None = None,
    alpha: float = 0.5,
    min_count: int = 1,
    max_broadcast_vocab: int = 2_000_000,
    text_col: str = "text",
    id_col: str = "doc_id",
    segmentation: str = "whitespace",
) -> DataFrame:
    """(id, n_tokens, avg_logprob): mean log10 unigram probability of
    each document's tokens — the LM-perplexity quality signal of
    CCNet-style filtering (documents whose tokens are improbable under
    a reference LM are gibberish/noise; here the LM is unigram, the
    engine-friendly first rung).

    ``vocab`` is an optional (word, count) frame from a reference
    corpus; by default the LM is learned from ``docs`` itself
    (self-scoring: spot outlier documents against their own corpus).
    Probabilities are add-alpha smoothed over V+1 outcomes (the +1 is
    the OOV bucket), so unseen words score finitely:
    P(w) = (count(w) + alpha) / (N + alpha * (V + 1)).

    Scale shape: the LM build is one explode + word-keyed count
    (partially aggregated); the vocab DF is PERSISTED across its two
    consumers — the N/V totals scalar job and the scoring join — so
    the corpus is scanned once for the LM, not twice. Scoring joins
    the exploded token stream to the vocabulary; the join side is
    adaptive on the MEASURED vocabulary size (the ``dedup_clusters``/
    ``assign_ids`` pattern): broadcast when the kept vocabulary is
    under ``max_broadcast_vocab`` entries (stopword-skewed keys land
    on the broadcast side, never concentrating a shuffle partition),
    plain shuffle join above it — a web-scale distinct-token set is
    unbounded and must never be forced into executor memory. Then one
    per-doc mean. Token order never matters, so no window, no sort.

    ``min_count`` prunes the scoring vocabulary: words below it score
    as OOV (count 0 + alpha smoothing — the standard unigram-LM prune;
    rare words score near-OOV anyway). N and V are measured BEFORE the
    prune so probabilities stay those of the full LM; ``min_count=1``
    (default) is exact.

    ``segmentation="script"`` tokenizes the LM and the scored stream
    over the script-segmented words — under the whitespace split a
    zh/ja/th document is ONE token, so its avg_logprob is a single
    OOV probability and the CCNet-style cut reads it as maximal
    gibberish. (Must match how an external ``vocab`` was counted.)
    """
    ws = _words_sql(text_col, segmentation)
    if vocab is None:
        vocab = (
            docs.select(F.explode(F.expr(ws)).alias("word"))
            .groupBy("word")
            .agg(F.count(F.lit(1)).alias("count"))
        )
    # One materialization serves the totals job AND the scoring join
    # (the r4 regression was this exact DF rebuilt from scratch for
    # each — ~3 corpus scans per call). localCheckpoint, not persist
    # (round 13): persist had no release path (the scoring join is
    # consumed lazily by the caller), pinning executor storage for the
    # driver's lifetime; checkpointed blocks free when the frame is
    # GC'd, and downstream plans read a LogicalRDD.
    vocab = vocab.localCheckpoint()
    totals = vocab.agg(
        F.sum("count").alias("n"),
        F.count(F.lit(1)).alias("v"),
        F.count(F.when(F.col("count") >= min_count, 1)).alias("v_kept"),
    ).first()
    n_total = float(totals["n"] or 0)
    v_size = float(totals["v"] or 0)
    v_kept = int(totals["v_kept"] or 0)
    denom = n_total + alpha * (v_size + 1.0)
    lm = (
        vocab.filter(F.col("count") >= min_count)
        if min_count > 1
        else vocab
    )
    # measured-bound adaptive join: the hint pins the plan either way
    # (a stats-blind estimate must not pick broadcast for an unbounded
    # vocabulary)
    lm = F.broadcast(lm) if v_kept <= max_broadcast_vocab else lm.hint("merge")
    toks = docs.select(
        F.col(id_col), F.explode(F.expr(ws)).alias("word")
    )
    scored = toks.join(lm, on="word", how="left").select(
        F.col(id_col),
        F.log10(
            (F.coalesce(F.col("count"), F.lit(0)).cast("double") + alpha)
            / F.lit(denom)
        ).alias("_lp"),
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg("_lp"), 6).alias("avg_logprob"),
    )


#: Accent-fold table for :func:`normalize_text` — an explicit literal
#: mapping (not locale collation) so any engine reproduces it
#: byte-for-byte. Lowercase only: folding runs after lowercasing.
_ACCENT_SRC = "àáâãäåçèéêëìíîïñòóôõöøùúûüýÿ"
_ACCENT_DST = "aaaaaaceeeeiiiinoooooouuuuyy"

#: ASCII punctuation as explicit ranges — identical semantics in Java
#: regex (Spark) and RE2 (DuckDB etc.), unlike \p{Punct}/[[:punct:]]
#: whose class membership differs between engines.
_PUNCT_CLASS = r"[!-/:-@\[-`{-~]"


def normalize_text(
    docs: DataFrame,
    *,
    lowercase: bool = True,
    fold_accents: bool = False,
    strip_punctuation: bool = False,
    fold_digits: bool = False,
    collapse_whitespace: bool = True,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, text_norm): deterministic text normalization — the CCNet
    hashing prelude (lowercase, accent fold, punctuation strip, digit
    fold, whitespace collapse) as one map-side column program.

    Dedup hashes computed on raw text miss case/punctuation variants
    of the same content; the published pipelines normalize BEFORE
    hashing and keep the raw text for training. Compose accordingly:
    ``exact_duplicates(normalize_text(docs).withColumnRenamed(
    "text_norm", "text"))`` finds the variants, the raw corpus stays
    untouched.

    Every rule is an explicit literal (the accent table, ASCII-range
    punctuation class, space-class whitespace) rather than a locale or
    engine-defined character class, so the output is reproducible
    across engines — the property every downstream hash depends on.
    Punctuation is replaced by a space (not deleted: deleting glues
    ``end.Start`` into one token) and the final collapse de-dupes the
    spaces; digits fold to ``0`` so version strings/ids hash alike.
    """
    out = F.col(text_col)
    if lowercase:
        out = F.lower(out)
    if fold_accents:
        out = F.translate(out, _ACCENT_SRC, _ACCENT_DST)
    if strip_punctuation:
        out = F.regexp_replace(out, _PUNCT_CLASS, " ")
    if fold_digits:
        out = F.regexp_replace(out, "[0-9]", "0")
    if collapse_whitespace:
        out = F.trim(F.regexp_replace(out, "[ \\t\\n\\r]+", " "))
    return docs.select(F.col(id_col), out.alias("text_norm"))


def bigram_logprob_score(
    docs: DataFrame,
    *,
    alpha: float = 0.5,
    min_count: int = 1,
    max_broadcast_vocab: int = 2_000_000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_bigrams, avg_logprob): mean log10 conditional bigram
    probability — the next rung above :func:`unigram_logprob_score`
    on the CCNet perplexity ladder (real CCNet uses a 5-gram KenLM;
    unigram scores word choice, bigram starts scoring word ORDER, so
    shuffled/templated text that fools the unigram rung scores low
    here).

    P(w2|w1) = (count(w1 w2) + alpha) / (count(w1) + alpha * (V + 1))
    with add-alpha smoothing over V+1 outcomes (the +1 is OOV), V the
    unigram vocabulary size; both LMs are learned from ``docs`` itself
    (self-scoring). Documents with fewer than two tokens have no
    bigrams and return ``n_bigrams = 0`` with a null ``avg_logprob``.

    Scale shape (the unigram operator's charter): bigram extraction is
    a map-side ``transform`` over the token array (no self-join);
    both count tables are persisted across their consumers; scoring
    is two left joins — bigram counts on (w1, w2), unigram counts on
    w1 for the denominator — each adaptive on its MEASURED size
    (broadcast under ``max_broadcast_vocab``, shuffle join above; a
    web-scale bigram table is unbounded and must never be forced into
    executor memory). ``min_count`` prunes the bigram table only
    (pruned bigrams score as unseen); V and the unigram denominators
    stay exact.
    """
    ws = f"split(lower({text_col}), ' ')"
    pairs_expr = (
        f"transform(slice({ws}, 1, greatest(size({ws}) - 1, 0)),"
        f" (x, i) -> struct(x AS w1, element_at({ws}, i + 2) AS w2))"
    )
    bigrams = docs.select(
        F.col(id_col), F.explode(F.expr(pairs_expr)).alias("_bg")
    ).select(id_col, F.col("_bg.w1").alias("w1"), F.col("_bg.w2").alias("w2"))

    # localCheckpoint, not persist (round 13): measured-bound frames
    # with lazy consumers get the GC release path (see unigram LM note)
    uni = (
        docs.select(F.explode(F.expr(ws)).alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("_c1"))
        .localCheckpoint()
    )
    bi = (
        bigrams.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("_c12"))
        .localCheckpoint()
    )
    v_size = float(uni.count())
    bi_kept = bi.filter(F.col("_c12") >= min_count) if min_count > 1 else bi
    n_bi = bi_kept.count()  # measured bounds for both join sides
    bi_side = (
        F.broadcast(bi_kept)
        if n_bi <= max_broadcast_vocab
        else bi_kept.hint("merge")
    )
    uni_side = (
        F.broadcast(uni)
        if v_size <= max_broadcast_vocab
        else uni.hint("merge")
    )
    denom = F.coalesce(F.col("_c1"), F.lit(0)).cast("double") + F.lit(
        alpha
    ) * F.lit(v_size + 1.0)
    scored = (
        bigrams.join(bi_side, on=["w1", "w2"], how="left")
        .join(uni_side, on="w1", how="left")
        .select(
            F.col(id_col),
            F.log10(
                (
                    F.coalesce(F.col("_c12"), F.lit(0)).cast("double")
                    + F.lit(alpha)
                )
                / denom
            ).alias("_lp"),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("_lp"), 6).alias("avg_logprob"),
    )
    # docs with < 2 tokens produce no bigram rows; restore them with
    # n_bigrams = 0 so the output covers the corpus
    return (
        docs.select(id_col)
        .join(per_doc, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
            "avg_logprob",
        )
    )


def trigram_logprob_score(
    docs: DataFrame,
    *,
    backoff: float = 0.4,
    min_count: int = 1,
    max_broadcast_vocab: int = 2_000_000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_trigrams, avg_logprob): mean log10 stupid-backoff
    trigram score — the rung above :func:`bigram_logprob_score` on
    the perplexity ladder.

    Stupid backoff (Brants et al. 2007, "Large Language Models in
    Machine Translation" — the smoothing DESIGNED for MapReduce-scale
    LMs: no normalization pass, no held-out discounting, just counts):

    * S(w3|w1 w2) = c(w1 w2 w3)/c(w1 w2) when the trigram was seen,
    * else ``backoff`` · S(w3|w2), with S(w3|w2) = c(w2 w3)/c(w2)
      when the bigram was seen,
    * else ``backoff``² · c(w3)/N.

    Scores are relative frequencies, not probabilities (they don't
    sum to 1 — the published trade for web-scale trainability);
    the LM is learned from ``docs`` itself (self-scoring, the ladder's
    convention), so the unigram floor is always positive. Documents
    with fewer than three tokens return ``n_trigrams = 0`` and a null
    ``avg_logprob``.

    Scale shape: gram extraction is a map-side ``transform`` over the
    token array (no self-join); ONE count table per granularity
    (trigram, bigram, unigram — each one groupBy), scoring is one left
    join per granularity lookup (tri on (w1,w2,w3), bi on (w1,w2) and
    (w2,w3), uni on w2 and w3), each adaptive on its MEASURED size —
    broadcast under ``max_broadcast_vocab``, shuffle join above (a
    web-scale trigram table must never be forced into executor
    memory). ``min_count`` prunes the trigram table only (pruned
    trigrams back off); bigram/unigram denominators stay exact.
    """
    ws = f"split(lower({text_col}), ' ')"
    tri_expr = (
        f"transform(slice({ws}, 1, greatest(size({ws}) - 2, 0)),"
        f" (x, i) -> struct(x AS w1, element_at({ws}, i + 2) AS w2,"
        f" element_at({ws}, i + 3) AS w3))"
    )
    trigrams = docs.select(
        F.col(id_col), F.explode(F.expr(tri_expr)).alias("_tg")
    ).select(
        id_col,
        F.col("_tg.w1").alias("w1"),
        F.col("_tg.w2").alias("w2"),
        F.col("_tg.w3").alias("w3"),
    )

    # localCheckpoint, not persist (round 13): measured-bound frames
    # with lazy consumers get the GC release path (see unigram LM note)
    uni = (
        docs.select(F.explode(F.expr(ws)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("_cu"))
        .localCheckpoint()
    )
    bi_expr = (
        f"transform(slice({ws}, 1, greatest(size({ws}) - 1, 0)),"
        f" (x, i) -> struct(x AS w1, element_at({ws}, i + 2) AS w2))"
    )
    bi = (
        docs.select(F.explode(F.expr(bi_expr)).alias("_bg"))
        .select(F.col("_bg.w1").alias("w1"), F.col("_bg.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("_cb"))
        .localCheckpoint()
    )
    tri = (
        trigrams.groupBy("w1", "w2", "w3")
        .agg(F.count(F.lit(1)).alias("_ct"))
        .localCheckpoint()
    )
    n_tokens = float(
        uni.agg(F.sum("_cu")).collect()[0][0] or 0.0
    )
    v_uni = uni.count()
    n_bi = bi.count()
    tri_kept = (
        tri.filter(F.col("_ct") >= min_count) if min_count > 1 else tri
    )
    n_tri = tri_kept.count()

    def side(frame, n):
        return F.broadcast(frame) if n <= max_broadcast_vocab else (
            frame.hint("merge")
        )

    tri_side = side(tri_kept, n_tri)
    bi12 = side(bi, n_bi)
    bi23 = side(
        bi.select(
            F.col("w1").alias("w2"), F.col("w2").alias("w3"),
            F.col("_cb").alias("_cb23"),
        ),
        n_bi,
    )
    uni2 = side(
        uni.select(F.col("w").alias("w2"), F.col("_cu").alias("_cu2")),
        v_uni,
    )
    uni3 = side(
        uni.select(F.col("w").alias("w3"), F.col("_cu").alias("_cu3")),
        v_uni,
    )
    b = F.lit(float(backoff))
    score = F.when(
        F.col("_ct").isNotNull(),
        F.col("_ct").cast("double") / F.col("_cb").cast("double"),
    ).otherwise(
        b
        * F.when(
            F.col("_cb23").isNotNull(),
            F.col("_cb23").cast("double") / F.col("_cu2").cast("double"),
        ).otherwise(
            b * F.col("_cu3").cast("double") / F.lit(n_tokens)
        )
    )
    scored = (
        trigrams.join(tri_side, on=["w1", "w2", "w3"], how="left")
        .join(bi12, on=["w1", "w2"], how="left")
        .join(bi23, on=["w2", "w3"], how="left")
        .join(uni2, on="w2", how="left")
        .join(uni3, on="w3", how="left")
        .select(F.col(id_col), F.log10(score).alias("_lp"))
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_trigrams"),
        F.round(F.avg("_lp"), 6).alias("avg_logprob"),
    )
    return (
        docs.select(id_col)
        .join(per_doc, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce(F.col("n_trigrams"), F.lit(0)).alias("n_trigrams"),
            "avg_logprob",
        )
    )


def strip_boilerplate_lines(
    docs: DataFrame,
    *,
    min_doc_freq: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_delim: str = "\n",
    max_broadcast_lines: int = 200_000,
) -> DataFrame:
    """(id, text_clean, n_lines, n_removed): cross-document line-level
    dedup — lines appearing in >= ``min_doc_freq`` distinct documents
    are boilerplate (headers, footers, nav bars, license blurbs) and
    are stripped; the remaining lines rejoin in original order.

    The line-granularity counterpart of the document-level dedup
    family (CCNet / RefinedWeb-style curation runs both): document
    dedup drops whole near-copies, this removes the shared scaffolding
    inside otherwise-distinct pages.

    Physical shape for 100 TB: one explode to line granularity feeds
    the document-frequency count (two line-keyed shuffles with
    map-side partial aggregation — only (line, doc) pairs move, never
    text). The hot-line set is then MEASURED (the ``dedup_clusters``/
    ``assign_ids`` adaptive pattern — "boilerplate is tiny" is an
    assumption, not a bound, and ``min_doc_freq=2`` on a web corpus is
    not tiny):

    * ``<= max_broadcast_lines`` hot lines: fold to ONE row holding
      the hot set hash-bucketed into ~``n_hot/64`` power-of-two
      buckets (``array<array<string>>``), broadcast onto the doc
      scan; each line's membership probe is one ``xxhash64`` + an
      O(64) in-bucket scan (a flat array_contains would be an
      O(n_hot) scan per line — 200k string compares at the bound),
      and reconstruction is a per-row ``filter`` over the split —
      document text never crosses a shuffle.
    * larger: explode-and-regroup — per-(doc, position) lines anti-join
      the hot set (shuffle hash/merge join, forced: a mis-estimated
      broadcast of an unbounded set is an OOM, not a slow query), then
      kept lines regroup per document in position order. Text crosses
      the shuffle here; that is the price of a corpus-proportional
      boilerplate set, paid only when measured.

    Both paths return identical rows. Empty documents come back as
    empty strings (never null) so sinks need no null handling.
    """
    ls = F.split(F.col(text_col), line_delim)
    lines = docs.select(
        F.col(id_col),
        F.posexplode(ls).alias("_pos", "_line"),
    )
    hot = (
        lines.select(id_col, "_line")
        .distinct()
        .groupBy("_line")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") >= min_doc_freq)
        .select("_line")
        # localCheckpoint, not persist (round 13): GC release path for
        # the measured-bound hot set (see unigram LM note)
        .localCheckpoint()
    )
    n_hot = hot.count()

    if n_hot <= max_broadcast_lines:
        # hash-bucketed broadcast set: a flat collect_list probed with
        # array_contains is an O(n_hot) scan PER LINE (12.8M string
        # compares per 64-line doc at the 200k bound); bucketing by
        # xxhash64 into ~n_hot/64 power-of-two buckets makes each
        # probe one hash + an O(64) in-bucket scan, still exact, still
        # one broadcast row; the bucket groupBy adds one HOT-SET-sized
        # exchange (<= max_broadcast_lines rows), nothing corpus-sized.
        nb = 1 << (n_hot // 64).bit_length()
        hot_arr = (
            hot.groupBy(
                F.pmod(F.xxhash64("_line"), F.lit(nb)).alias("_b")
            )
            .agg(F.collect_list("_line").alias("_bls"))
            .agg(
                F.map_from_entries(
                    F.collect_list(F.struct("_b", "_bls"))
                ).alias("_m")
            )
            .select(
                F.expr(
                    # try_element_at: ANSI-mode-neutral missing-key
                    # lookup (plain element_at raises under ANSI)
                    f"transform(sequence(0, {nb - 1}), b ->"
                    f" coalesce(try_element_at(_m, cast(b as bigint)),"
                    f" cast(array() as array<string>)))"
                ).alias("_hot")
            )
        )
        kept = F.filter(
            ls,
            lambda l: ~F.array_contains(
                F.get(
                    F.col("_hot"),
                    F.pmod(F.xxhash64(l), F.lit(nb)).cast("int"),
                ),
                l,
            ),
        )
        return (
            docs.crossJoin(F.broadcast(hot_arr))  # one row: the buckets
            .select(
                F.col(id_col),
                F.array_join(kept, line_delim).alias("text_clean"),
                F.size(ls).alias("n_lines"),
                (F.size(ls) - F.size(kept)).alias("n_removed"),
            )
        )

    rebuilt = (
        lines.join(hot.hint("merge"), on="_line", how="left_anti")
        .groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_pos", "_line"))),
                    lambda s: s["_line"],
                ),
                line_delim,
            ).alias("_clean"),
            F.count(F.lit(1)).alias("_n_kept"),
        )
    )
    return docs.join(rebuilt, on=id_col, how="left").select(
        F.col(id_col),
        F.coalesce(F.col("_clean"), F.lit("")).alias("text_clean"),
        F.size(ls).alias("n_lines"),
        (F.size(ls) - F.coalesce(F.col("_n_kept"), F.lit(0))).cast(
            "int"
        ).alias("n_removed"),
    )


def doc_fingerprints(
    docs: DataFrame,
    *,
    k: int = 4,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    segmentation: str = "whitespace",
) -> DataFrame:
    """(id, fingerprint): bottom-k md5 shingle hashes, comma-joined.

    A winnowing-style rolling-hash sketch: the k lexicographically
    smallest shingle hashes summarize the document; sketch equality is a
    strong near-identity signal and the sketch is groupable/joinable.
    ``segmentation="script"`` sketches the script-segmented stream —
    a zh/ja/th document has zero whitespace shingles and therefore NO
    fingerprint row at all under the default (review-caught, round 9;
    fingerprints of the two modes are not comparable).
    """
    from haplorec_spark.operators.dedup import (
        _distinct_shingle_arrays,
        _spread_docs,
    )

    sh = _distinct_shingle_arrays(
        _spread_docs(docs), shingle_n, text_col=text_col, id_col=id_col,
        segmentation=segmentation,
    )
    # Entirely map-side: hash the doc's distinct-shingle array in place
    # and sort/slice it inside the row — same sorted bottom-k multiset
    # the old explode → groupBy(doc) collect_list sorted, without
    # shuffling a corpus of shingle rows first.
    return sh.select(
        F.col(id_col),
        F.expr(
            f"concat_ws(',', slice(array_sort(transform(_sh,"
            f" x -> md5(x))), 1, {k}))"
        ).alias("fingerprint"),
    )


#: Feature budget for MAP-SIDE literal scoring (``linear_text_score``
#: small-vocabulary path, ``language_id_model`` literal path,
#: ``with_language(method="model")``, ``curation.map_side_curation``).
#: Raised 256 → 2048 in round 8 with the pinned-model inventory
#: extension: the sibling trigram-profile rung already inlines ~3,900
#: profile literals map-side (15 languages × ~40-350 trigrams, InSet
#: probes), so a ~1,400-entry literal model is the same plan-footprint
#: class — and the scorer below prefilters each lookup with an
#: InSet membership probe, so a token that misses the vocabulary
#: (most tokens, on real text) costs O(1) instead of Spark's
#: O(|map|) literal-map scan (GetMapValue is a linear scan).
MAX_LITERAL_FEATURES = 2048

#: Above this many entries the InSet prefilter wins over a bare
#: map scan (below it, the extra IN adds more plan than it saves —
#: OptimizeIn only builds a hash set at >= 10 literals anyway).
_INSET_PREFILTER_MIN = 24


def _literal_score_prob(weights, bias, average, text_col):
    """(score, prob) Columns for a literal-map linear classifier —
    shared by :func:`linear_text_score`'s small-vocabulary path and
    ``curation.map_side_curation``'s streaming-safe gate."""
    ws = f"split(lower({text_col}), ' ')"
    n_tok = F.expr(f"size({ws})")
    if weights:
        entries = ", ".join(
            "'" + w.replace("'", "''") + f"', CAST({float(x)!r} AS DOUBLE)"
            for w, x in sorted(weights.items())
        )
        lookup = f"element_at(map({entries}), w)"
        if len(weights) >= _INSET_PREFILTER_MIN:
            # Spark's literal-map lookup (GetMapValue) is an
            # O(|map|) linear scan per probe; guard it behind an
            # InSet hash-membership probe so the common case — a
            # token OUTSIDE the model vocabulary — costs O(1).
            # Exactness: IN-miss => element_at would return NULL =>
            # the same coalesce(..., 0.0) contribution.
            keys = ", ".join(
                "'" + w.replace("'", "''") + "'"
                for w in sorted(weights)
            )
            lookup = (
                f"CASE WHEN w IN ({keys}) THEN {lookup} "
                f"ELSE CAST(NULL AS DOUBLE) END"
            )
    else:
        lookup = "cast(null as double)"
    total = F.expr(
        f"aggregate({ws}, cast(0.0 as double),"
        f" (acc, w) -> acc + coalesce({lookup}, cast(0.0 as double)))"
    )
    score = F.lit(float(bias)) + (
        total / n_tok.cast("double") if average else total
    )
    score = F.round(score, 6)
    prob = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-score)), 6)
    return score, prob


def linear_text_score(
    docs: DataFrame,
    weights,
    *,
    bias: float = 0.0,
    average: bool = True,
    max_literal_vocab: int | None = None,
    max_broadcast_vocab: int = 2_000_000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_tokens, score, prob): apply a PRETRAINED linear text
    classifier — the fastText/DCLM-style quality-filter shape, where a
    small model trained offline (e.g. on curated-vs-crawl labels)
    scores the whole corpus inside the engine.

    ``weights`` is the trained word-weight table: a mapping or a
    (word, weight) DataFrame. ``score`` = bias + Σ weight(token)
    (mean instead of sum when ``average``, the fastText bag shape;
    OOV tokens contribute 0 but count in the denominator);
    ``prob`` = sigmoid(score).

    Scale shape, chosen by the MEASURED vocabulary size (the
    :func:`unigram_logprob_score` pattern): a vocabulary under
    ``max_literal_vocab`` inlines as a literal SQL map — pure
    map-side projection, zero shuffle; larger vocabularies run
    explode → weight join (broadcast under ``max_broadcast_vocab``,
    shuffle join above — a classifier vocabulary is usually small,
    but nothing here OOMs if it isn't) → per-doc aggregate. Both
    paths produce identical scores (test-asserted).
    """
    from collections.abc import Mapping as _Mapping

    ws = f"split(lower({text_col}), ' ')"
    n_tok = F.expr(f"size({ws})")
    if max_literal_vocab is None:
        max_literal_vocab = MAX_LITERAL_FEATURES
    if isinstance(weights, _Mapping) and len(weights) <= max_literal_vocab:
        score, prob = _literal_score_prob(weights, bias, average, text_col)
        return docs.select(
            F.col(id_col),
            n_tok.alias("n_tokens"),
            score.alias("score"),
            prob.alias("prob"),
        )
    if isinstance(weights, _Mapping):
        weights = docs.sparkSession.createDataFrame(
            list(weights.items()), "word string, weight double"
        )
    n_vocab = weights.count()  # measured bound, as everywhere else
    w = (
        F.broadcast(weights)
        if n_vocab <= max_broadcast_vocab
        else weights.hint("merge")
    )
    toks = docs.select(
        F.col(id_col), F.explode(F.expr(ws)).alias("word")
    )
    agg = (
        toks.join(w, on="word", how="left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.coalesce(F.col("weight"), F.lit(0.0))).alias("_t"),
        )
    )
    score = F.lit(float(bias)) + (
        F.col("_t") / F.col("n_tokens").cast("double")
        if average
        else F.col("_t")
    )
    score = F.round(score, 6)
    return agg.select(
        F.col(id_col),
        "n_tokens",
        score.alias("score"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-score)), 6).alias("prob"),
    )


def chunk_documents(
    docs: DataFrame,
    *,
    chunk_size: int = 128,
    stride: int | None = None,
    min_words: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    segmentation: str = "whitespace",
) -> DataFrame:
    """(id, chunk_ix, chunk_start, n_words, chunk_text): fixed word
    windows over each document.

    Training-prep chunking — the complement of
    :func:`~haplorec_spark.operators.packing.pack_sequences` (which
    concatenates SHORT documents up to a budget, this CUTS long ones
    down to it): windows of ``chunk_size`` whitespace words starting
    every ``stride`` words. ``stride < chunk_size`` yields overlapping
    context windows (the usual sliding-window pretraining shape);
    the default ``stride = chunk_size`` tiles without overlap. Windows
    shorter than ``min_words`` (the final partial window of most
    documents) are dropped when ``min_words > 1``.

    Scale shape: one split per row, window starts from ``sequence``,
    ``posexplode`` — pure map-side row expansion, zero shuffle at any
    corpus size, and each output chunk row is bounded by ``chunk_size``
    words regardless of input document length (the property that makes
    downstream per-row work skew-free).

    ``segmentation="script"`` (round 9) windows over the
    script-segmented, case-preserving word stream — a zh/ja/th
    document is otherwise ONE whitespace word, i.e. a single unbounded
    chunk that defeats both the budget and the skew-freedom property;
    segmented, it chunks per character. ``chunk_text`` re-joins with
    single spaces (the canonical segmented spelling — byte-identical
    to the input only for spaced scripts).
    """
    if stride is None:
        stride = chunk_size
    if chunk_size < 1 or stride < 1 or min_words < 1:
        raise ValueError("chunk_size, stride, min_words must be >= 1")
    if segmentation == "script":
        # case-preserving single-pass isolation + empty filter (the
        # _words_sql shape; canonical collapse/trim only moves empty
        # tokens, which the filter drops either way)
        seg = (
            f"regexp_replace({text_col},"
            f" '({SPACEFREE_CLASS})', ' $1 ')"
        )
        ws = f"filter(split({seg}, ' '), w -> w != '')"
    elif segmentation == "whitespace":
        ws = f"split({text_col}, ' ')"
    else:
        raise ValueError(
            f"unknown segmentation mode {segmentation!r}; "
            f"expected one of {SEGMENTATION_MODES}"
        )
    starts = f"sequence(0, greatest(size({ws}) - 1, 0), {stride})"
    exploded = docs.select(
        F.col(id_col),
        F.expr(ws).alias("_ws"),
        F.posexplode(F.expr(starts)).alias("chunk_ix", "chunk_start"),
    ).select(
        F.col(id_col),
        "chunk_ix",
        "chunk_start",
        F.expr(f"slice(_ws, chunk_start + 1, {chunk_size})").alias("_cw"),
    )
    out = exploded.select(
        F.col(id_col),
        "chunk_ix",
        "chunk_start",
        F.size("_cw").alias("n_words"),
        F.array_join("_cw", " ").alias("chunk_text"),
    )
    if min_words > 1:
        out = out.filter(F.col("n_words") >= min_words)
    return out


def perplexity_buckets(
    docs: DataFrame,
    *,
    n_buckets: int = 3,
    vocab: DataFrame | None = None,
    alpha: float = 0.5,
    min_count: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    segmentation: str = "whitespace",
) -> DataFrame:
    """(id, n_tokens, avg_logprob, ppl_bucket): CCNet-style quality
    tiers from the unigram-LM score.

    CCNet (Wenzek et al. 2020) splits a crawl into head/middle/tail by
    reference-LM perplexity and trains preferentially on the head.
    Bucket 0 holds the HIGHEST ``avg_logprob`` (lowest perplexity —
    cleanest) documents; cut points are the exact ``i/n_buckets``
    quantiles of the corpus score distribution (linear interpolation,
    the same definition as DuckDB's ``quantile_cont``).

    Scale shape: scoring is :func:`unigram_logprob_score` (one LM
    build + one token join); the cuts collect ``n_buckets - 1``
    scalars to the driver (bounded, like the k-means codebook), and
    bucket assignment is a map-side CASE against those literals — no
    global sort, no ``ntile`` window over the corpus. A document
    exactly on a cut joins the better bucket. Round 12: the cut
    computation is the distinct-value-histogram percentile
    (:func:`~haplorec_spark.operators.percentiles.group_percentiles`,
    identical ``quantile_cont`` interpolation), NOT the
    value-buffering ``percentile`` aggregate — ``avg_logprob`` is
    6-decimal-rounded at the source, so the histogram (and the one
    cumulative window over it) is ENFORCED distinct-score-sized while
    the old aggregate buffered every document's score on one task.
    """
    from haplorec_spark.operators.percentiles import group_percentiles

    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    scored = unigram_logprob_score(
        docs,
        vocab=vocab,
        alpha=alpha,
        min_count=min_count,
        text_col=text_col,
        id_col=id_col,
        segmentation=segmentation,
    ).localCheckpoint()  # reused by the cuts aggregate and the output
    # projection; checkpoint rather than persist (round 13) so the
    # blocks free when the returned frame is GC'd
    qs = [1.0 - i / n_buckets for i in range(1, n_buckets)]
    names = [f"c{i}" for i in range(len(qs))]
    cuts_row = group_percentiles(
        scored, [], "avg_logprob", qs, names=names, round_to=None
    ).first()
    cuts = [cuts_row[n] for n in names]
    bucket = F.lit(n_buckets - 1)
    for i in range(n_buckets - 2, -1, -1):
        bucket = F.when(
            F.col("avg_logprob") >= F.lit(float(cuts[i])), F.lit(i)
        ).otherwise(bucket)
    return scored.select(
        F.col(id_col),
        "n_tokens",
        "avg_logprob",
        bucket.cast("int").alias("ppl_bucket"),
    )


# ------------------------------------------------------ query registration


def _duck_segmented_sql(text_expr: str) -> str:
    """DuckDB twin of :func:`segmented_text_sql` (RE2 spells the
    backreference ``\\1`` and needs the explicit global flag; the
    literal character-range class is shared verbatim)."""
    seg = (
        f"regexp_replace({text_expr}, '({SPACEFREE_CLASS})',"
        f" ' \\1 ', 'g')"
    )
    return f"trim(regexp_replace({seg}, '  +', ' ', 'g'))"


def _duck_words_sql(text_expr: str) -> str:
    """DuckDB twin of ``_words_sql(text_expr, "script")`` — same
    single-isolation-pass + empty-filter shape (the collapse/trim of
    the canonical form only moves empty tokens, which the filter
    drops either way)."""
    seg = (
        f"regexp_replace(lower({text_expr}),"
        f" '({SPACEFREE_CLASS})', ' \\1 ', 'g')"
    )
    return (
        f"list_filter(string_split({seg}, ' '), w -> w != '')"
    )


def _duck_hits(lex: list[str]) -> str:
    # the HISTORICAL whitespace word stream — the quality oracle's
    # form (q_text_quality is whitespace-mode by default)
    arr = ", ".join(f"'{w}'" for w in lex)
    return (
        f"len(list_filter(string_split(lower(text), ' '),"
        f" w -> list_contains([{arr}], w)))"
    )


def _duck_hits_seg(lex: list[str]) -> str:
    # the script-segmented word stream — the lexicon language rung's
    # form (round 9)
    arr = ", ".join(f"'{w}'" for w in lex)
    return (
        f"len(list_filter({_duck_words_sql('text')},"
        f" w -> list_contains([{arr}], w)))"
    )


def _duck_lang_scores() -> list[tuple[str, str]]:
    return [
        (
            lang,
            f"round({_duck_hits_seg(lex)}"
            f" / greatest(len({_duck_words_sql('text')}), 1)::DOUBLE, 6)",
        )
        for lang, lex in LANG_LEXICON.items()
    ]


# Imported after the DuckDB twins above: importing queries runs its
# module-level registrations, which read _duck_segmented_sql back from
# this module, so the twins must exist when this module is imported
# first.
from haplorec_spark.queries import register, table  # noqa: E402


@register(
    "q_text_language_id",
    (lambda scores: """
    SELECT doc_id,
           CASE """ + " ".join(
        f"WHEN {s} = greatest({', '.join(x for _, x in scores)}) THEN '{lang}'"
        for lang, s in scores
    ) + """ END AS predicted_lang,
           greatest(""" + ", ".join(s for _, s in scores) + """) AS lang_score
    FROM documents
    """)(_duck_lang_scores()),
    "n-gram lexicon language identification with deterministic argmax",
)
def q_text_language_id(spark, sf_dir):
    return language_id(table(spark, sf_dir, "documents"))


@register(
    "q_text_quality",
    f"""
    SELECT doc_id,
           len(string_split(lower(text), ' ')) AS n_words,
           round(length(replace(text, ' ', ''))
                 / len(string_split(lower(text), ' '))::DOUBLE, 6) AS mean_word_len,
           round({_duck_hits(LANG_LEXICON['en'])}
                 / len(string_split(lower(text), ' '))::DOUBLE, 6) AS stopword_ratio,
           round(0.4 * (CASE WHEN len(string_split(lower(text), ' ')) BETWEEN 10 AND 100000
                        THEN 1.0 ELSE 0.0 END)
                 + 0.3 * (CASE WHEN length(replace(text, ' ', ''))
                                    / len(string_split(lower(text), ' '))::DOUBLE
                                    BETWEEN 2 AND 12 THEN 1.0 ELSE 0.0 END)
                 + 0.3 * (CASE WHEN {_duck_hits(LANG_LEXICON['en'])}
                                    / len(string_split(lower(text), ' '))::DOUBLE
                                    >= 0.01 THEN 1.0 ELSE 0.0 END), 6) AS quality,
           round(1.0 - len(list_distinct(string_split(lower(text), ' ')))
                 / len(string_split(lower(text), ' '))::DOUBLE, 6)
               AS dup_word_fraction,
           round(CASE WHEN len(string_split(lower(text), ' ')) >= 2 THEN
                 1.0 - len(list_distinct(list_transform(
                           generate_series(1, len(string_split(lower(text), ' ')) - 1),
                           i -> string_split(lower(text), ' ')[i] || ' '
                                || string_split(lower(text), ' ')[i + 1])))
                     / (len(string_split(lower(text), ' ')) - 1)::DOUBLE
                 ELSE 0.0 END, 6) AS dup_bigram_fraction,
           round(list_max(list_transform(
                     list_distinct(string_split(lower(text), ' ')),
                     w -> len(list_filter(string_split(lower(text), ' '),
                              x -> x = w))))
                 / len(string_split(lower(text), ' '))::DOUBLE, 6)
               AS top_word_fraction,
           lm.avg_logprob
    FROM documents
    JOIN (
        WITH toks AS (SELECT doc_id,
                             unnest(string_split(lower(text), ' ')) AS word
                      FROM documents),
             vocab AS (SELECT word, count(*) AS c FROM toks GROUP BY word),
             tot AS (SELECT sum(c) AS n, count(*) AS v FROM vocab)
        SELECT doc_id,
               round(avg(log10((coalesce(c, 0) + 0.5)
                               / (tot.n + 0.5 * (tot.v + 1)))), 6)
                   AS avg_logprob
        FROM toks LEFT JOIN vocab USING (word) CROSS JOIN tot
        GROUP BY doc_id
    ) lm USING (doc_id)
    """,
    "corpus-filtering quality features, Gopher repetition filters, "
    "combined score, and self-trained unigram-LM log-probability",
)
def q_text_quality(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    q = quality_score(docs, include_repetition=True)
    lm = unigram_logprob_score(docs).select("doc_id", "avg_logprob")
    return q.join(lm, on="doc_id")


#: Fixed query terms for the gate's BM25 column.
_BM25_GATE_TERMS = ["data", "query"]


@register(
    "q_text_token_counts",
    # Per-document token accounting: raw counts, the BM25 weight for a
    # fixed query, and the document's position on the deterministic
    # packing tape (sequence id at seq_len=256). One gate exercises
    # token_counts, bm25_rank, and pack_sequences against one oracle.
    f"""
    WITH w AS (SELECT doc_id, text,
                      string_split(lower(text), ' ') AS ws
               FROM documents),
         s AS (SELECT count(*)::DOUBLE AS n_docs,
                      avg(len(ws))::DOUBLE AS avgdl,
                      sum(list_contains(ws, 'data')::INT)::DOUBLE AS df0,
                      sum(list_contains(ws, 'query')::INT)::DOUBLE AS df1
               FROM w),
         tape AS (SELECT doc_id,
                         (sum(len(ws)::BIGINT) OVER (
                              ORDER BY md5('pack' || chr(31)
                                           || doc_id::VARCHAR)
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW)
                          - len(ws)::BIGINT)::BIGINT AS global_start
                  FROM w)
    SELECT w.doc_id,
           len(ws)::BIGINT AS n_ws_tokens,
           len(regexp_extract_all(lower(text), '{_TOKEN_REGEX}'))::BIGINT
               AS n_regex_tokens,
           round(length(text) / len(ws)::DOUBLE, 6) AS chars_per_token,
           round(  ln(1 + (n_docs - df0 + 0.5) / (df0 + 0.5))
                 * tf0 * 2.2 / (tf0 + 1.2 * (0.25 + 0.75 * dl / avgdl))
                 + ln(1 + (n_docs - df1 + 0.5) / (df1 + 0.5))
                 * tf1 * 2.2 / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl)),
               6) AS bm25,
           tape.global_start,
           (tape.global_start // 256)::BIGINT AS seq_id
    FROM (SELECT doc_id, text, ws, len(ws)::DOUBLE AS dl,
                 len(list_filter(ws, x -> x = 'data'))::DOUBLE AS tf0,
                 len(list_filter(ws, x -> x = 'query'))::DOUBLE AS tf1
          FROM w) w JOIN tape USING (doc_id), s
    """,
    "token accounting: whitespace + BPE-ish regex counts, BM25 weight "
    "for a fixed query, and packing-tape position (seq_len=256)",
)
def q_text_token_counts(spark, sf_dir):
    from haplorec_spark.operators.packing import pack_sequences
    from haplorec_spark.operators.relevance import bm25_rank

    docs = table(spark, sf_dir, "documents")
    counts = token_counts(docs)
    bm25 = bm25_rank(docs, _BM25_GATE_TERMS)
    tape = pack_sequences(docs, 256).select(
        "doc_id", "global_start", "seq_id"
    )
    return counts.join(bm25, "doc_id").join(tape, "doc_id")


@register(
    "q_text_fingerprint",
    """
    WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
               FROM documents),
         sh AS (SELECT DISTINCT doc_id, shingle FROM (
                    SELECT doc_id,
                           unnest(CASE WHEN len(ws) >= 3
                                  THEN list_transform(
                                           generate_series(1, len(ws) - 2),
                                           i -> ws[i] || ' ' || ws[i+1]
                                                      || ' ' || ws[i+2])
                                  ELSE []::VARCHAR[] END) AS shingle
                    FROM w))
    SELECT doc_id,
           array_to_string(list_sort(list(md5(shingle)))[1:4], ',') AS fingerprint
    FROM sh GROUP BY doc_id
    """,
    "bottom-4 md5 shingle sketch (winnowing-style fingerprint)",
)
def q_text_fingerprint(spark, sf_dir):
    return doc_fingerprints(table(spark, sf_dir, "documents"))


@register(
    "q_text_chunks",
    # chunk_size=24 / stride=16: overlapping windows so the gate proves
    # the sliding (not just tiling) shape, and the clamped final
    # partial window per document.
    """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
               FROM documents),
         s AS (SELECT doc_id, ws,
                      unnest(range(0, greatest(len(ws), 1), 16))
                          AS chunk_start
               FROM w),
         c AS (SELECT doc_id,
                      (chunk_start // 16)::INT AS chunk_ix,
                      chunk_start::INT AS chunk_start,
                      ws[chunk_start + 1 : chunk_start + 24] AS cw
               FROM s)
    SELECT doc_id, chunk_ix, chunk_start,
           len(cw)::INT AS n_words,
           array_to_string(cw, ' ') AS chunk_text
    FROM c
    """,
    "sliding-window word chunking (24-word windows every 16 words, "
    "clamped tail)",
)
def q_text_chunks(spark, sf_dir):
    return chunk_documents(
        table(spark, sf_dir, "documents"), chunk_size=24, stride=16
    )


_CLF_WEIGHTS = {"the": 0.8, "and": 0.3, "data": -0.5, "of": 0.1}


@register(
    "q_text_linear_score",
    """
    WITH toks AS (SELECT doc_id,
                         unnest(string_split(lower(text), ' ')) AS word
                  FROM documents),
         w(word, wt) AS (VALUES ('the', 0.8), ('and', 0.3),
                                ('data', -0.5), ('of', 0.1))
    SELECT doc_id, count(*) AS n_tokens,
           round(0.2 + sum(coalesce(wt, 0.0)) / count(*), 6) AS score,
           round(1.0 / (1.0 + exp(-round(0.2 + sum(coalesce(wt, 0.0))
                                          / count(*), 6))), 6) AS prob
    FROM toks LEFT JOIN w USING (word)
    GROUP BY doc_id
    """,
    "pretrained linear text classifier (fastText/DCLM quality-filter "
    "shape): literal-map weight lookup, mean score + sigmoid",
)
def q_text_linear_score(spark, sf_dir):
    return linear_text_score(
        table(spark, sf_dir, "documents"), _CLF_WEIGHTS, bias=0.2
    )


def build_vocab(
    docs: DataFrame,
    *,
    size: int = 32768,
    min_count: int = 1,
    text_col: str = "text",
) -> DataFrame:
    """(rank, token, count, fraction, cum_fraction): the top-``size``
    token vocabulary with cumulative corpus coverage — the artifact a
    WordPiece/BPE trainer starts from, and the coverage curve that
    picks a vocabulary size (read off the rank where ``cum_fraction``
    crosses the OOV budget).

    ``fraction``/``cum_fraction`` are shares of ALL corpus tokens
    (measured before the ``min_count``/``size`` cuts), so truncating
    the vocabulary never inflates the coverage it reports. Rank ties
    break by token for cross-engine determinism.

    Scale shape: one explode + token-keyed count (map-side combined) —
    the unigram-LM build — then an exact top-``size`` cut: per-
    partition ``size``-row heads sorted into one final partition (the
    cut is vocabulary-sized, never corpus-sized), where the rank /
    running-coverage window runs over at most ``size`` rows. The
    corpus total rides along as a one-row crossJoin (no separate
    driver action).
    """
    if size < 1:
        raise ValueError(f"size must be >= 1, got {size}")
    # empty-string tokens (leading/trailing/double spaces split to '')
    # are whitespace artifacts, not vocabulary: they neither occupy a
    # top-V slot nor inflate the coverage denominator
    counts = (
        docs.select(
            F.explode(F.expr(f"split(lower({text_col}), ' ')")).alias(
                "token"
            )
        )
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("count"))
    )
    total = counts.agg(F.sum("count").alias("__total"))
    kept = counts.filter(F.col("count") >= min_count)
    w = Window.orderBy(F.col("count").desc(), F.col("token"))
    top = (
        kept.orderBy(F.col("count").desc(), F.col("token"))
        .limit(size)
        .crossJoin(F.broadcast(total))
        .withColumn("rank", F.row_number().over(w))
        .withColumn(
            "cum_count",
            F.sum("count").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    return top.select(
        "rank",
        "token",
        "count",
        F.round(F.col("count") / F.col("__total"), 6).alias("fraction"),
        F.round(F.col("cum_count") / F.col("__total"), 6).alias(
            "cum_fraction"
        ),
    )
