"""Checker modules (SURVEY.md §2.7 C1–C7) — pure row logic + Spark builders.

The reference runs checker modules with a begin()/process()/end() lifecycle
per fetched page (SURVEY.md §3.1). Here each checker is (a) a pure Python
function over parsed-page fields — used by the golden single-threaded
reference crawler in golden.py and inside vectorized batches — and (b) a
DataFrame builder over the engine's `parsed` table — used by the crawl loop
and by the driver-checked queries. Tests assert (a) and (b) agree exactly.

Checkers:
  C1 broken links   — crawl.py (anti-join of elected frontier vs pages)
  C2 regex          — email/pattern extraction over extracted text
  C3 comments       — sensitive HTML comments
  C4 spelling       — tokens anti-joined against a broadcast dictionary
  C5 metadata       — missing/overlong title & meta description
  C7 readability    — Flesch-style score from word/sentence/syllable counts
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TOKEN_RE = re.compile(r"[a-z]+")
EMAIL_RE = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
SENTENCE_RE = re.compile(r"[.!?]")
VOWEL_GROUP_RE = re.compile(r"[aeiouy]+")

SENSITIVE_COMMENT_RE = re.compile(r"password|secret|api_key|TODO", re.IGNORECASE)

# Same regexes as SQL-side strings (Java regex dialect compatible).
TOKEN_SQL = "[a-z]+"
EMAIL_SQL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
SENSITIVE_SQL = "(?i)password|secret|api_key|TODO"

META_DESC_MAX = 160
TITLE_MAX = 70


# ---------------------------------------------------------------------------
# Pure row logic (golden oracle + property tests)
# ---------------------------------------------------------------------------

def tokenize(text: str) -> list[str]:
    return TOKEN_RE.findall(text.lower())


def find_misspellings(text: str, dictionary: set[str]) -> list[str]:
    return sorted({t for t in tokenize(text) if len(t) >= 3 and t not in dictionary})


SPELL_CONTEXT = 24  # chars of context on each side of a misspelling


def spelling_context(text: str, word: str) -> str:
    """Context window around the FIRST substring occurrence of `word` in
    lower(text): starts 24 chars before it, runs len(word)+48 chars (window
    keeps full length when clipped at the string start). The rule is chosen
    to be expressible identically in pure JVM substring/locate (the
    check_spelling builder) and pure Python (this function / golden.py) —
    the reference logs misspellings with surrounding context (SURVEY.md
    §2.7 C4)."""
    lt = text.lower()
    i = lt.find(word)
    if i < 0:  # unreachable for tokens extracted from this text
        return word
    start = max(0, i - SPELL_CONTEXT)
    return lt[start:start + len(word) + 2 * SPELL_CONTEXT]


def misspelling_details(text: str, dictionary: set[str]) -> list[str]:
    """'word: context' detail strings, sorted by word — golden's spelling
    findings; byte-identical to check_spelling's `detail` column."""
    return [
        f"{w}: {spelling_context(text, w)}" for w in find_misspellings(text, dictionary)
    ]


def find_emails(text: str) -> list[str]:
    return EMAIL_RE.findall(text)


def find_sensitive_comments(comments: list[str]) -> list[str]:
    return [c for c in comments if SENSITIVE_COMMENT_RE.search(c)]


def meta_issues(title: str | None, meta_description: str | None) -> list[str]:
    issues = []
    if not title:
        issues.append("missing_title")
    elif len(title) > TITLE_MAX:
        issues.append("title_too_long")
    if meta_description is None:
        issues.append("missing_meta_description")
    elif len(meta_description) > META_DESC_MAX:
        issues.append("meta_description_too_long")
    return issues


def readability(text: str) -> float | None:
    """Flesch reading ease with vowel-group syllable approximation."""
    words = tokenize(text)
    if not words:
        return None
    n_words = len(words)
    n_sentences = max(1, len(SENTENCE_RE.findall(text)))
    n_syllables = sum(max(1, len(VOWEL_GROUP_RE.findall(w))) for w in words)
    return 206.835 - 1.015 * (n_words / n_sentences) - 84.6 * (n_syllables / n_words)


# ---------------------------------------------------------------------------
# DataFrame builders over the engine's `parsed` table
# (url, wave, extracted_text, title, meta_description, comments, ...)
# ---------------------------------------------------------------------------

def check_spelling(parsed: DataFrame, dictionary: DataFrame) -> DataFrame:
    """C4: (url, wave, word, detail) per distinct unknown token per page;
    detail = 'word: <context>' around the first occurrence (same rule as
    spelling_context, all JVM: locate + substring on the re-joined text —
    the anti-join runs on narrow token rows first, text re-attaches only to
    the few surviving misspellings).

    Dictionary is broadcast — it is small by construction (SURVEY.md §2.3 J3).
    """
    # (verb, post_data) are part of the row identity: a GET and a POST of
    # the same url are two requests (contract v3) — joining text back on
    # (url, wave) alone would cross-multiply their findings. Tolerate
    # url-keyed inputs that predate the request columns.
    req = [c for c in ("url", "wave", "verb", "post_data")
           if c in parsed.columns]
    tokens = (
        parsed.select(
            *req,
            F.explode(
                F.array_distinct(
                    F.regexp_extract_all(F.lower("extracted_text"), F.lit(TOKEN_SQL), F.lit(0))
                )
            ).alias("word"),
        )
        .filter(F.length("word") >= 3)
    )
    unknown = tokens.join(F.broadcast(dictionary), "word", "left_anti")
    text = parsed.select(*req, F.lower("extracted_text").alias("_lt"))
    pos = F.expr("locate(word, _lt)")  # 1-based first occurrence
    ctx = F.substring(
        F.col("_lt"),
        F.greatest(F.lit(1), pos - F.lit(SPELL_CONTEXT)),
        F.length("word") + F.lit(2 * SPELL_CONTEXT),
    )
    return (
        unknown.join(text, req)
        .select(
            "url", "wave", "word",
            F.concat(F.col("word"), F.lit(": "), ctx).alias("detail"),
        )
    )


def check_regex(parsed: DataFrame, pattern_sql: str = EMAIL_SQL, name: str = "email") -> DataFrame:
    """C2: one row per match of a configured pattern per page."""
    return parsed.select(
        "url",
        "wave",
        F.lit(name).alias("pattern_name"),
        F.explode(
            F.regexp_extract_all("extracted_text", F.lit(pattern_sql), F.lit(0))
        ).alias("match"),
    )


def check_comments(parsed: DataFrame) -> DataFrame:
    """C3: sensitive HTML comments."""
    return parsed.select(
        "url",
        "wave",
        F.explode("comments").alias("comment"),
    ).filter(F.col("comment").rlike(SENSITIVE_SQL))


def check_metadata(parsed: DataFrame) -> DataFrame:
    """C5: title/meta-description presence and length issues."""
    issues = F.array_compact(
        F.array(
            F.when(F.col("title").isNull() | (F.col("title") == ""), "missing_title")
            .when(F.length("title") > TITLE_MAX, "title_too_long"),
            F.when(F.col("meta_description").isNull(), "missing_meta_description")
            .when(F.length("meta_description") > META_DESC_MAX, "meta_description_too_long"),
        )
    )
    return (
        parsed.select("url", "wave", F.explode(issues).alias("issue"))
    )


def _spell_context_col(lt, word):
    """JVM twin of spelling_context() as a column expression over a
    lowercased-text column and a token column: substring around the first
    locate() hit, window clipped at the string start — byte-identical to
    check_spelling's join-side detail (locate >= 1 always holds because the
    token was extracted from this very text)."""
    pos = F.call_function("locate", word, lt)
    return F.call_function(
        "substring", lt,
        F.greatest(F.lit(1), pos - F.lit(SPELL_CONTEXT)),
        F.length(word) + F.lit(2 * SPELL_CONTEXT),
    )


def _checker_structs(known_words: list[str] | None = None):
    """The C2+C3+C5 per-row findings as ONE array-of-struct(module, detail)
    column expression, plus C4 spelling when `known_words` is given. Shared
    by findings_pass and the crawl's wave-level fused findings builder.

    known_words: the dictionary, collected (it is broadcast-small by
    construction, SURVEY.md §2.3 J3). The dictionary subtraction happens
    HERE at the array level (array_except against the literal word set, a
    per-row hash lookup), so only the few UNKNOWN tokens per page ever
    become rows. Same set by construction: array_except(filter(tokens,
    len>=3), dict) == distinct tokens len>=3 minus dict. Each unknown token
    becomes a finished module='spelling' finding whose 'word: context'
    detail is computed IN-ROW (_spell_context_col): the token and its
    source text share a row, so no join re-attaches the text.
    Byte-identical details to check_spelling (pytest-pinned)."""
    regex_arr = F.transform(
        # cheap contains() pre-gate: every EMAIL_SQL match contains '@', so
        # the expensive regex only runs on rows that can match at all
        # (guide §1.2 "per-task work"); null text falls through to [].
        F.coalesce(
            F.when(
                F.contains("extracted_text", F.lit("@")),
                F.regexp_extract_all("extracted_text", F.lit(EMAIL_SQL), F.lit(0)),
            ),
            F.array(),
        ),
        lambda m: F.struct(F.lit("regex").alias("module"), m.alias("detail")),
    )
    comment_arr = F.transform(
        F.filter(
            F.coalesce(F.col("comments"), F.array()),
            lambda c: c.rlike(SENSITIVE_SQL),
        ),
        lambda c: F.struct(F.lit("comments").alias("module"), c.alias("detail")),
    )
    issues = F.array_compact(
        F.array(
            F.when(F.col("title").isNull() | (F.col("title") == ""), "missing_title")
            .when(F.length("title") > TITLE_MAX, "title_too_long"),
            F.when(F.col("meta_description").isNull(), "missing_meta_description")
            .when(F.length("meta_description") > META_DESC_MAX, "meta_description_too_long"),
        )
    )
    meta_arr = F.transform(
        issues,
        lambda i: F.struct(F.lit("metadata").alias("module"), i.alias("detail")),
    )
    arr = F.concat(regex_arr, comment_arr, meta_arr)
    if known_words is not None:
        candidates = F.filter(
            F.array_distinct(
                F.regexp_extract_all(
                    F.lower("extracted_text"), F.lit(TOKEN_SQL), F.lit(0)
                )
            ),
            lambda t: F.length(t) >= 3,
        )
        # array_except is distinct-by-definition, so the inner
        # array_distinct above is redundant, but kept: it is the expression
        # the golden-checked crawl runs
        candidates = F.array_except(
            candidates, F.array(*[F.lit(w) for w in known_words])
        )
        # after the dictionary subtraction `candidates` holds ~a few
        # unknown tokens per page, so the per-element lower()+locate()
        # below runs on O(few) elements — not the inlined-regex hazard
        # _bound_words documents (its input array is evaluated once)
        lt = F.lower(F.col("extracted_text"))
        token_arr = F.transform(
            candidates,
            lambda t: F.struct(
                F.lit("spelling").alias("module"),
                F.concat(t, F.lit(": "),
                         _spell_context_col(lt, t)).alias("detail"),
            ),
        )
        arr = F.concat(arr, token_arr)
    return arr


def findings_pass(parsed: DataFrame) -> DataFrame:
    """C2+C3+C5 fused into ONE scan of the parsed table: returns
    (module, url, wave, detail) rows — the exact multiset the three
    separate builders produce (pytest-pinned equality).

    Why: the crawl loop's findings job previously unioned each checker's
    own DataFrame — 3 JVM-checker scans plus spelling's 2 (tokens + text
    re-attach) = 5 passes over the parsed cache per wave, and those
    cache-read bytes were the second-largest stage group in the round-4
    N-vs-4N scaling tables (ckpt_findings: 44.7 GB input, 1.72x inflation).
    The three pure-JVM checkers are per-row array builders, so one scan
    emits them all."""
    return (
        parsed.select("url", "wave", F.explode(_checker_structs()).alias("f"))
        .select(
            F.col("f.module").alias("module"), "url", "wave",
            F.col("f.detail").alias("detail"),
        )
    )


# Most rows a spelling dictionary may have: its words become one literal in
# every wave's findings plan, and the plan text grows with it.
DICT_WORDS_CAP = 100_000


def collect_dictionary(dictionary: DataFrame) -> list[str]:
    """The sorted distinct words of `dictionary`'s `word` column, collected
    to the driver. Collects at most DICT_WORDS_CAP + 1 rows and raises if
    the dictionary has more than DICT_WORDS_CAP."""
    rows = dictionary.select("word").limit(DICT_WORDS_CAP + 1).collect()
    if len(rows) > DICT_WORDS_CAP:
        raise ValueError(
            f"spelling dictionary has {dictionary.count()} rows, over the "
            f"cap of {DICT_WORDS_CAP} rows for an in-plan word list")
    return sorted({r["word"] for r in rows})


def wave_findings_pass(
    parsed: DataFrame, max_redirects: int,
    dictionary: DataFrame | list[str] | None = None, checkers: bool = True,
) -> DataFrame:
    """ALL of a crawl wave's per-page findings from ONE scan of the parsed
    table: broken_link (status=404 rows), over-cap redirect chains, and —
    when `checkers` — C2/C3/C5 (+ C4 spelling when a dictionary is given).
    Returns findings(module, url, wave, detail, referrer). Robots findings
    are not built here — they read the gated frontier, not parsed pages.

    Why one scan: every filter branch over the parsed cache fetches the
    FULL cached batches from the block manager regardless of column
    pruning, so the previous three-branch findings job (404 filter +
    redirect filter + fused checker scan) read 3x the cache per wave —
    45 GB/run and 1.42x 4N inflation in the round-5 pair-0 stage tables.
    Row-for-row equal to the separate builders' union (pytest + golden).

    The dictionary (DataFrame or pre-collected word list) is folded into
    the fused scan as an array_except literal (_checker_structs), so only
    UNKNOWN tokens become rows — the r6 shape exploded ~300 token rows per
    page into the fused cache and anti-joined them all (the dominant CPU
    of the r7 profile's ckpt_findings stage group, 240 s CPU/run at the
    120k-page bench); now ~2 rows/page survive and no anti-join runs.
    Collecting the dictionary is the same smallness assumption its
    broadcast already made, enforced by collect_dictionary's cap.

    r7: the spelling CONTEXT is also computed in-row (_checker_structs):
    the unknown token and its source text share a row, so
    the former 'word: context' re-attach — a full-text shuffle join plus a
    SECOND scan of the parsed cache per wave, plus a persisted in-band
    token table — was pure plumbing. The whole wave findings job is now
    ONE scan of the parsed cache with zero exchanges before the
    checkpoint."""
    dict_words: list[str] | None = None
    if checkers and dictionary is not None:
        if isinstance(dictionary, (list, tuple)):
            dict_words = sorted(set(dictionary))
        else:
            dict_words = collect_dictionary(dictionary)
    broken = F.array_compact(F.array(
        F.when(
            F.col("status") == 404,
            F.struct(F.lit("broken_link").alias("module"),
                     F.lit("404").alias("detail"),
                     F.col("referrer").alias("referrer")),
        )
    ))
    red = F.array_compact(F.array(
        F.when(
            F.col("redirect").isNotNull()
            & (F.col("redirects") + 1 > max_redirects),
            F.struct(F.lit("redirect").alias("module"),
                     F.concat(F.lit("max_redirects_exceeded "),
                              F.col("redirect")).alias("detail"),
                     F.col("referrer").alias("referrer")),
        )
    ))
    arr = F.concat(broken, red)
    if checkers:
        # checker findings apply to fetched pages only; 404 passthrough
        # rows must not produce metadata/regex findings from their empty
        # parse fields
        chk = F.transform(
            F.filter(
                _checker_structs(dict_words),
                lambda _s: F.col("status") == 200,
            ),
            lambda s: F.struct(s["module"].alias("module"),
                               s["detail"].alias("detail"),
                               F.lit("").alias("referrer")),
        )
        arr = F.concat(arr, chk)
    fused = (
        parsed.select("url", "wave", F.explode(arr).alias("f"))
        .select(
            F.col("f.module").alias("module"), "url", "wave",
            F.col("f.detail").alias("detail"),
            F.col("f.referrer").alias("referrer"),
        )
    )
    return fused


def with_flesch(df: DataFrame, text: str) -> DataFrame:
    """`df` plus n_words, n_sentences and flesch: the Flesch reading ease
    of column `text` from built-in column expressions (no Python), the
    JVM twin of readability() — flesch is null when `text` has no words.
    The one builder behind check_readability (C7) and
    queries.q_readability."""
    df = df.withColumn(
        "_words",  # materialized: HOF lambdas below must not inline the regex
        F.regexp_extract_all(F.lower(text), F.lit(TOKEN_SQL), F.lit(0)),
    )
    words = F.col("_words")
    n_words = F.size(words)
    n_sentences = F.greatest(
        F.lit(1),
        F.size(F.regexp_extract_all(text, F.lit(SENTENCE_RE.pattern), F.lit(0))),
    )
    syllable_counts = F.transform(
        words,
        lambda w: F.greatest(
            F.lit(1),
            F.size(F.regexp_extract_all(w, F.lit(VOWEL_GROUP_RE.pattern), F.lit(0))),
        ),
    )
    n_syllables = F.aggregate(syllable_counts, F.lit(0), lambda a, b: a + b)
    score = (
        F.lit(206.835)
        - F.lit(1.015) * (n_words.cast("double") / n_sentences.cast("double"))
        - F.lit(84.6) * (n_syllables.cast("double") / n_words.cast("double"))
    )
    return df.select(
        "*",
        n_words.alias("n_words"),
        n_sentences.alias("n_sentences"),
        F.when(n_words > 0, score).alias("flesch"),
    ).drop("_words")


def check_readability(parsed: DataFrame) -> DataFrame:
    """C7: (url, wave, flesch_score, n_words) per parsed page."""
    return with_flesch(parsed, "extracted_text").select(
        "url", "wave", F.col("flesch").alias("flesch_score"), "n_words"
    )
