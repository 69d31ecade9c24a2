"""Text analysis: tokenization, quality scoring, language ID,
fingerprinting.

Everything is a Column expression over built-in functions (regex,
higher-order array ops, md5) — no Python UDFs, so the whole module
runs inside whole-stage codegen and scales linearly with executors.

Cross-engine determinism: every function here has an exact ANSI-SQL
twin used by the DuckDB oracle (see ``driver_queries``); hashes are
derived from md5 hex (identical everywhere) via per-character ascii
arithmetic rather than engine-specific hash functions.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..session import local_df

TOKEN_PATTERN = r"\S+"

# Small, fixed English stopword list (order matters only for docs).
STOPWORDS = ("the", "a", "of", "and", "in", "to", "is")

HASH_PRIME = 1_000_000_007


def tokens(c: Column) -> Column:
    """Whitespace tokenization as non-space runs (robust to leading/
    trailing/multiple spaces, unlike split)."""
    return F.regexp_extract_all(c, F.lit(TOKEN_PATTERN), 0)


def token_count(c: Column) -> Column:
    return F.size(tokens(c))


# BPE-ish pre-tokenization: letter runs, digit runs, punctuation runs —
# the GPT-2-style split that approximates subword token counts far
# better than whitespace (punctuation and numbers become their own
# tokens).  Portable regex (no lookarounds) so every engine agrees.
BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


def bpe_tokens(c: Column) -> Column:
    return F.regexp_extract_all(c, F.lit(BPE_PATTERN), 0)


def bpe_token_count(c: Column) -> Column:
    """Approximate LLM token count: BPE-ish pieces plus a length tax on
    long words (a w-char word costs ~ceil(w/6) subword tokens)."""
    pieces = bpe_tokens(c)
    return F.aggregate(
        pieces,
        F.lit(0).cast("long"),
        lambda acc, t: acc
        + F.lit(1)
        + F.floor((F.length(t) - F.lit(1)) / F.lit(6)).cast("long"),
    )


def md5_long(c: Column) -> Column:
    """Deterministic 32-bit integer hash: the first 8 hex chars of md5
    parsed as an unsigned integer.

    Exists because Spark's ``hash``/``xxhash64`` and DuckDB's ``hash``
    are different algorithms; md5 hex + base-16 parse is bit-identical
    in every engine (Spark ``conv(_, 16, 10)``, DuckDB
    ``CAST('0x' || _ AS BIGINT)``), and one parse replaces the 8
    substring+ascii ops of a per-char polynomial.
    """
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def md5_long_sql(expr: str) -> str:
    """The DuckDB-dialect twin of :func:`md5_long`."""
    return f"CAST('0x' || substr(md5({expr}), 1, 8) AS BIGINT)"


def md5_wide_long(c: Column) -> Column:
    """Deterministic 60-bit integer hash: the first 15 hex chars of md5
    parsed as an unsigned integer (fits a signed 64-bit long).

    Use this — NOT :func:`md5_long` — wherever hash equality stands in
    for VALUE equality (gram/shingle fingerprints that drive joins,
    dedup decisions, or destructive edits): the 32-bit space saturates
    around 10^5 distinct keys (birthday bound), so at corpus scale
    colliding grams would falsely acquire df >= min_df and span
    removal would delete legitimate text.  32 bits stays fine for
    bucketing/sampling (``md5_long % k``) where collisions only
    co-locate rows.
    """
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def md5_wide_long_sql(expr: str) -> str:
    """The DuckDB-dialect twin of :func:`md5_wide_long`."""
    return f"CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"


def hex_window_long(hexcol: Column, offset: int) -> Column:
    """Integer hash from an 8-char window of a hex digest at ``offset``.

    Lets one md5 computation feed many hash families (overlapping
    windows of the 32-char digest) — the md5 is the expensive part, the
    window parse is a single codegen'd conv.
    """
    return F.conv(F.substring(hexcol, offset + 1, 8), 16, 10).cast("long")


def hex_window_long_sql(expr: str, offset: int) -> str:
    """DuckDB twin of :func:`hex_window_long` (``expr`` is a hex string)."""
    return f"CAST('0x' || substr({expr}, {offset + 1}, 8) AS BIGINT)"


def stopword_count(toks: Column) -> Column:
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    return F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, F.lower(t))))


# Text-cleaning rules, applied IN ORDER (each replaces every match):
# typographic quotes/dashes to ASCII, zero-width characters stripped,
# NBSP and control characters to spaces, whitespace runs collapsed.
# Character classes are built from explicit codepoints so the actual
# characters ride the pattern string (not \\uXXXX escape syntax,
# whose handling differs between the Java regex and RE2 dialects).
def _cc(*cps: int) -> str:
    return "[" + "".join(chr(c) for c in cps) + "]"


CLEAN_RULES: tuple[tuple[str, str], ...] = (
    (_cc(0x2018, 0x2019), "'"),                 # curly single quotes
    (_cc(0x201C, 0x201D), '"'),                 # curly double quotes
    (_cc(0x2013, 0x2014), "-"),                 # en/em dashes
    (_cc(0x200B, 0x200C, 0x200D, 0xFEFF), ""),  # zero-width + BOM
    (_cc(0x00A0), " "),                         # NBSP
    ("[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]", " "),  # control chars
    ("\\s+", " "),                            # collapse whitespace runs
)


def clean_text(text: Column) -> Column:
    """Pre-tokenization text cleanup — the mojibake/typography
    normalization pass every crawl pipeline runs before token
    statistics: :data:`CLEAN_RULES` in order, then trim.  Pure
    chained ``regexp_replace`` (map-side, codegen'd); the DuckDB twin
    is :func:`clean_text_sql` (same patterns with the ``'g'`` flag —
    DuckDB replaces only the first match by default where Spark
    replaces all)."""
    out = text
    for pat, rep in CLEAN_RULES:
        out = F.regexp_replace(out, pat, rep)
    return F.trim(out)


def clean_text_sql(expr: str) -> str:
    """The DuckDB-dialect twin of :func:`clean_text`."""
    for pat, rep in CLEAN_RULES:
        p = pat.replace("'", "''")
        r = rep.replace("'", "''")
        expr = f"regexp_replace({expr}, '{p}', '{r}', 'g')"
    return f"trim({expr})"


def quality_metrics(text: Column) -> dict[str, Column]:
    """Per-document quality signals: token count, average token
    length, stopword ratio, punctuation ratio, and a combined score.

    The combined score is an arbitrary-but-deterministic linear blend;
    downstream filters threshold it (the usual "drop bottom X%%"
    pattern in pretraining pipelines).
    """
    toks = tokens(text)
    n_tok = F.size(toks)
    n_chars = F.length(text)
    non_space = F.length(F.regexp_replace(text, r"\s", ""))
    n_stop = stopword_count(toks)
    n_punct = n_chars - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    safe_tok = F.greatest(n_tok, F.lit(1))
    avg_len = non_space.cast("double") / safe_tok
    stop_ratio = n_stop.cast("double") / safe_tok
    punct_ratio = n_punct.cast("double") / F.greatest(n_chars, F.lit(1))
    score = (
        F.least(n_tok.cast("double") / F.lit(100.0), F.lit(1.0)) * 0.4
        + stop_ratio * 0.3
        + F.lit(1.0) / (F.lit(1.0) + punct_ratio * 10.0) * 0.3
    )
    return {
        "n_tokens": n_tok,
        "avg_token_len": avg_len,
        "stopword_ratio": stop_ratio,
        "punct_ratio": punct_ratio,
        "quality_score": score,
    }


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_flags(text: Column) -> dict[str, Column]:
    """Gopher-style document quality rules (Rae et al. 2021, §A1.1 —
    the published heuristics most pretraining pipelines start from),
    as pure Column expressions: word-count bounds, mean-word-length
    band, symbol-to-word ratio, alphabetic-word fraction, and required
    stopword presence.  ``keep`` is the conjunction.

    All map-side codegen — at 100 TB this is a zero-shuffle scan
    filter, the cheapest possible first stage of a curation funnel.
    """
    toks = tokens(text)
    n = F.size(toks)
    safe_n = F.greatest(n, F.lit(1))
    non_space = F.length(F.regexp_replace(text, r"\s", ""))
    mean_word_len = non_space.cast("double") / safe_n
    n_symbols = F.size(F.regexp_extract_all(text, F.lit(r"#|\.\.\."), 0))
    symbol_ratio = n_symbols.cast("double") / safe_n
    alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    alpha_ratio = alpha_words.cast("double") / safe_n
    stops = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    n_stop_kinds = F.size(
        F.array_intersect(F.array_distinct(F.transform(toks, F.lower)), stops)
    )
    ok_words = (n >= 50) & (n <= 100_000)
    ok_mean_len = (mean_word_len >= 3.0) & (mean_word_len <= 10.0)
    ok_symbols = symbol_ratio < 0.1
    ok_alpha = alpha_ratio >= 0.8
    ok_stop = n_stop_kinds >= 2
    return {
        "n_words": n,
        "mean_word_len": mean_word_len,
        "symbol_ratio": symbol_ratio,
        "alpha_ratio": alpha_ratio,
        "n_stop_kinds": n_stop_kinds,
        "ok_words": ok_words,
        "ok_mean_len": ok_mean_len,
        "ok_symbols": ok_symbols,
        "ok_alpha": ok_alpha,
        "ok_stop": ok_stop,
        "keep": ok_words & ok_mean_len & ok_symbols & ok_alpha & ok_stop,
    }


def language_id(text: Column) -> Column:
    """N-gram/stopword-heuristic language ID.

    Real pipelines use fastText/CLD3; with no models in this
    environment the heuristic is marker-token voting, which is the
    same shape (per-doc vectorized classify, no shuffle).
    """
    toks = tokens(text)
    n = F.greatest(F.size(toks), F.lit(1)).cast("double")

    def ratio(markers: tuple[str, ...]) -> Column:
        arr = F.array(*[F.lit(m) for m in markers])
        return F.size(F.filter(toks, lambda t: F.array_contains(arr, F.lower(t)))) / n

    en = ratio(("the", "a", "of", "and", "is", "to"))
    de = ratio(("der", "die", "das", "und", "ist"))
    fr = ratio(("le", "la", "les", "et", "est"))
    return (
        F.when((en >= de) & (en >= fr) & (en > 0), F.lit("en"))
        .when((de >= fr) & (de > 0), F.lit("de"))
        .when(fr > 0, F.lit("fr"))
        .otherwise(F.lit("unk"))
    )


def ngrams(toks: Column, n: int) -> Column:
    """Word n-grams as space-joined strings (empty array when the doc
    has fewer than ``n`` tokens — guarded because Spark's ``sequence``
    would otherwise produce a descending range)."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.when(F.size(toks) < n, F.array().cast("array<string>")).otherwise(grams)


def repetition_ratio(text: Column, n: int = 2) -> Column:
    """Duplicated-n-gram fraction, the Gopher/RefinedWeb repetition
    quality signal: 1 - distinct/total word n-grams (0.0 for docs too
    short to have any).  Pure array expressions — codegen, no shuffle.
    """
    grams = ngrams(tokens(text), n)
    total = F.size(grams)
    return F.when(total <= 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - F.size(F.array_distinct(grams)).cast("double") / total
    )


# Redaction order matters: earlier replacements must not leave text the
# later patterns could mis-match (the [TAG] tokens are letter-only, so
# they never match the digit-shaped patterns below).  Patterns stick to
# RE2-and-Java-common syntax so Spark and the DuckDB oracle agree.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    ("EMAIL", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("IPV4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"),
    ("PHONE", r"\+[0-9][0-9()\s.-]{7,}[0-9]"),
)


def redact_pii(text: Column) -> tuple[Column, Column]:
    """Mask emails / IPv4s / phone numbers; returns ``(redacted,
    n_redacted)``.  Each pattern is counted on the text state it is
    applied to, so a phone number inside an already-redacted email is
    not double-counted.
    """
    cur = text
    n = F.lit(0)
    for tag, pat in PII_PATTERNS:
        n = n + F.size(F.regexp_extract_all(cur, F.lit(pat), 0))
        cur = F.regexp_replace(cur, pat, f"[{tag}]")
    return cur, n.cast("long")


def chunk_starts(toks: Column, max_tokens: int, overlap: int) -> Column:
    """1-based window start positions for :func:`chunk_documents`:
    1, 1+stride, 1+2*stride, ... while <= token count (a single start
    for empty docs — callers filter those)."""
    stride = max_tokens - overlap
    if stride <= 0:
        raise ValueError("max_tokens must exceed overlap")
    return F.sequence(F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(stride))


def doc_fingerprint(text: Column) -> Column:
    """Order-sensitive document fingerprint.

    Position-weighted bag hash: ``sum((i+1) * (md5_long(tok) % P)) % P``
    over tokens.  Exact in int64 for documents up to ~10k tokens;
    commutative sum, so partial aggregation order cannot change it.
    """
    toks = tokens(text)
    weighted = F.transform(
        toks, lambda t, i: (i + F.lit(1)).cast("long") * (md5_long(t) % HASH_PRIME)
    )
    total = F.aggregate(weighted, F.lit(0).cast("long"), lambda acc, v: acc + v)
    return total % HASH_PRIME


# Vocabularies up to this many distinct words train on the driver
# (:func:`_bpe_learn_merges_local`); bigger ones run one Spark round
# per merge batch.  Measured at a7170d3 on a 4-vCPU host, local[4], 5
# alternating pairs at sf0.1 (5,000 documents, 31 distinct words; the
# 10x corpus has 310): `bpe_merges` driver lane median 0.76 s (IQR
# 0.05) vs 5.34 s for the Spark rounds, `bpe_merges_batched` 0.52 s
# (IQR 0.35) vs 2.06 s, slower in 5 of 5 pairs each.
BPE_LOCAL_VOCAB_ROWS = 100_000


def _bpe_learn_merges_local(
    spark, rows, n_merges, batch_size, rounds, _with_vocab
):
    """Driver-local replay of the :func:`bpe_learn_merges` loop over a
    collected vocabulary — bit-identical selection and application
    (see the fast-path comment at the call site for the order/
    tie-break argument)."""
    import math

    vocab = [(r["w"], r["freq"], list(r["s"])) for r in rows]
    results: list[tuple] = []
    if rounds is None:
        rounds = math.ceil(n_merges / batch_size)
    for _ in range(rounds):
        if len(results) >= n_merges:
            break
        cnt: dict = {}
        for _w, freq, s in vocab:
            for i in range(len(s) - 1):
                if s[i] != s[i + 1]:
                    k = (s[i], s[i + 1])
                    cnt[k] = cnt.get(k, 0) + freq
        cand = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        cand = cand[: 8 * batch_size]
        used: set = set()
        batch = []
        for (a, b), c in cand:
            if len(batch) >= batch_size:
                break
            if a in used or b in used:
                continue
            used.add(a)
            used.add(b)
            batch.append((a, b, c))
        if not batch:
            break
        for a, b, c in batch:
            results.append((len(results) + 1, a, b, a + b, c))
        mm = {a: b for a, b, _c in batch}

        def _apply(s):
            out = []
            n = len(s)
            for i in range(1, n + 1):
                prev_start = i > 1 and mm.get(s[i - 2]) == s[i - 1]
                here_start = i < n and mm.get(s[i - 1]) == s[i]
                if prev_start:
                    continue
                if here_start:
                    out.append(s[i - 1] + s[i])
                else:
                    out.append(s[i - 1])
            return out

        vocab = [(w_, freq, _apply(s)) for w_, freq, s in vocab]
    merges = local_df(
        spark,
        results[:n_merges],
        "rank LONG, lhs STRING, rhs STRING, merged STRING, pair_count LONG",
    )
    if _with_vocab:
        vdf = local_df(spark, vocab, "w STRING, freq LONG, s ARRAY<STRING>")
        return merges, vdf
    return merges


def bpe_learn_merges(
    docs,
    n_merges: int = 8,
    text_col: str = "text",
    batch_size: int = 1,
    rounds: int | None = None,
    _with_vocab: bool = False,
):
    """Byte-pair-encoding vocabulary learning — the tokenizer-training
    pass of an LLM data pipeline: iteratively merge the most frequent
    adjacent symbol pair across the corpus, weighted by word
    frequency (Sennrich et al. 2016).

    Scale shape: the corpus is scanned ONCE into a distinct
    ``(word, freq)`` vocabulary; every merge round then aggregates
    pair counts over the VOCABULARY (bounded by distinct words, not
    corpus size), selects that round's merges, and applies them
    map-side — so training cost is rounds x vocab-sized aggregations,
    never corpus scans.  The per-round vocab is lazily
    localCheckpointed so the merge-application expression chain does
    not deepen round over round.

    ``batch_size`` is the scale lever for real vocabularies: one
    Spark job + driver argmax per merge serializes a 32k-merge
    training into 32k jobs.  Each round instead collects the round's
    TOP ``8*batch_size`` pairs by key ``(count DESC, left ASC,
    right ASC)`` — a bounded, model-sized list — and greedily accepts
    up to ``batch_size`` of them in key order, skipping any pair
    sharing a symbol with an already-accepted one.  Accepted pairs
    therefore have pairwise-DISJOINT symbol support, which keeps the
    position-local application exactly sound for the whole batch (no
    two accepted pairs can ever claim overlapping positions), and the
    greedy always accepts the global argmax first, so
    ``batch_size=1`` reproduces classic sequential BPE exactly.
    Batched rounds are the standard parallel-BPE approximation: each
    round's merges are chosen from one frequency snapshot instead of
    recounting after every merge.  The oracle replays the ordered
    greedy selection as a bounded recursive CTE over the same top-K
    list.
    By default training runs exactly ``ceil(n_merges / batch_size)``
    rounds — a STATIC count, which is what lets the DuckDB oracle
    replay the chain as fixed CTE rounds; early rounds on a raw
    character alphabet accept fewer than ``batch_size`` pairs (hot
    symbols block each other), so the default can return fewer than
    ``n_merges`` merges.  Scale trainings that must hit the quota
    pass ``rounds`` explicitly (e.g. ``4 * ceil(n/B)``): the loop
    stops as soon as ``n_merges`` merges are banked or the corpus
    runs out of pairs.  A final round may apply up to
    ``batch_size - 1`` merges beyond ``n_merges`` (rounds are atomic —
    the oracle replays whole rounds), but the RETURNED merge list is
    truncated to ``n_merges``.

    Determinism/parity: ties break on (count desc, left asc, right
    asc); SELF-pairs (left == right) are excluded from candidates —
    two occurrences of an unequal pair can never overlap, which makes
    greedy merge application position-local (pure
    ``transform``+``filter``, identical in both engines) instead of a
    sequential left-to-right scan.  (Standard BPE allows self-merges;
    on natural text they essentially never win a round, and the
    restriction is what makes the whole training oracle-replayable.)

    Output: one row per learned merge —
    ``(rank, lhs, rhs, merged, pair_count)`` with rank 1-based in
    merge order (within a round: the same (count desc, lhs, rhs)
    order).  Stops early (fewer rows) if the corpus runs out of
    repeated pairs.
    """
    import math

    spark = docs.sparkSession
    w = (
        docs.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn(
            "s",
            F.transform(
                F.sequence(F.lit(1), F.length("w")),
                lambda i: F.col("w").substr(i, F.lit(1)),
            ),
        )
    )
    # Driver-local fast path: every training round is ONE pair-count
    # aggregation over the VOCABULARY plus a top-K collect — when the
    # vocab itself fits the driver, one limit-probe collect funds the
    # entire loop (the ANN trainers' _collect_id_sorted_sample
    # pattern), replacing rounds x (job + exchange + collect) of pure
    # scheduler latency.  The local replay is value-exact: integer
    # pair counts, (cnt DESC, a ASC, b ASC) candidate order (Python
    # str compares by code point; UTF-8 binary order used by Spark is
    # code-point order, so ties break identically), the same
    # greedy-disjoint batch, and the same position-local merge rule.
    lrows = w.limit(BPE_LOCAL_VOCAB_ROWS + 1).collect()
    if len(lrows) <= BPE_LOCAL_VOCAB_ROWS:
        return _bpe_learn_merges_local(
            spark, lrows, n_merges, batch_size, rounds, _with_vocab
        )
    w = w.localCheckpoint(eager=False)
    results: list[tuple] = []
    if rounds is None:
        rounds = math.ceil(n_merges / batch_size)
    for _ in range(rounds):
        if len(results) >= n_merges:
            break
        pairs = (
            w.select(
                "freq",
                # sequence(1, 0) counts DOWN in Spark — guard short words
                F.explode(
                    F.when(
                        F.size("s") >= 2,
                        F.transform(
                            F.sequence(F.lit(1), F.size("s") - 1),
                            lambda i: F.struct(
                                F.element_at("s", i).alias("a"),
                                F.element_at("s", i + 1).alias("b"),
                            ),
                        ),
                    ).otherwise(
                        F.array().cast("array<struct<a:string,b:string>>")
                    )
                ).alias("p"),
            )
            .select("freq", "p.a", "p.b")
            .filter(F.col("a") != F.col("b"))
            .groupBy("a", "b")
            .agg(F.sum("freq").alias("cnt"))
        )
        # ordered greedy-disjoint selection over the collected top-K
        # (model-sized; K = 8*batch): accept in key order unless a
        # symbol is already claimed this round
        cand = (
            pairs.orderBy(F.col("cnt").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(8 * batch_size)
            .collect()
        )
        used: set = set()
        batch = []
        for r in cand:
            if len(batch) >= batch_size:
                break
            if r["a"] in used or r["b"] in used:
                continue
            used.add(r["a"])
            used.add(r["b"])
            batch.append(r)
        if not batch:
            break
        for r in batch:
            results.append(
                (len(results) + 1, r["a"], r["b"], r["a"] + r["b"], r["cnt"])
            )
        # disjoint symbol support -> lhs values are unique -> the whole
        # batch ships as one literal lhs->rhs map
        kv = []
        for r in batch:
            kv += [F.lit(r["a"]), F.lit(r["b"])]
        mm = F.create_map(*kv)

        # position-local greedy application (sound because supports are
        # disjoint and a != b): emit merged at a match start, drop the
        # position after it.  try_element_at: a missing map key is a
        # non-match, not an ANSI error.
        def _merge_pos(i):
            prev_start = F.when(
                i > F.lit(1),
                F.try_element_at(mm, F.element_at("s", i - 1))
                == F.element_at("s", i),
            ).otherwise(F.lit(False))
            here_start = F.when(
                i < F.size("s"),
                F.try_element_at(mm, F.element_at("s", i))
                == F.element_at("s", i + 1),
            ).otherwise(F.lit(False))
            return (
                F.when(prev_start, F.lit(None).cast("string"))
                .when(
                    here_start,
                    F.concat(F.element_at("s", i), F.element_at("s", i + 1)),
                )
                .otherwise(F.element_at("s", i))
            )

        merged = F.filter(
            F.transform(F.sequence(F.lit(1), F.size("s")), _merge_pos),
            lambda x: x.isNotNull(),
        )
        w = w.withColumn("s", merged).localCheckpoint(eager=False)
    merges = local_df(
        spark,
        results[:n_merges],
        "rank LONG, lhs STRING, rhs STRING, merged STRING, pair_count LONG",
    )
    if _with_vocab:
        return merges, w
    return merges


def bpe_piece_counts(
    docs,
    n_merges: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """BPE ENCODING statistics — the apply side of
    :func:`bpe_learn_merges`: tokenize each document under the learned
    merges and report piece counts and fertility (pieces per word),
    the number that drives token budgets, packing, and cost estimates.

    The training loop already carries the fully-merged vocabulary, so
    encoding is a join: exploded corpus tokens against the bounded
    ``(word, n_pieces)`` table (left to AQE — the vocab grows with
    distinct words, the :func:`bigram_lm_score` sizing argument), then
    one per-doc aggregation.  No per-document merge replay.

    Output: ``(id_col, n_words, n_pieces, fertility round 6)``; docs
    with no tokens are absent.
    """
    _, vocab = bpe_learn_merges(docs, n_merges, text_col, _with_vocab=True)
    wf = vocab.select("w", F.size("s").alias("__np"))
    tok = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("w")
    )
    return (
        tok.join(wf, "w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("__np").alias("n_pieces"),
        )
        .select(
            id_col,
            "n_words",
            "n_pieces",
            (
                F.round(F.col("n_pieces") / F.col("n_words"), 6) + F.lit(0.0)
            ).alias("fertility"),
        )
    )


# CDC boundary-hash multiplier.  37 has multiplicative order 16 mod 64
# (the default divisor), so all eight window positions carry DISTINCT
# odd weights mod 64 (1, 37, 25, 29, 49, 21, 9, 13) — every position
# perturbs the boundary decision.  31 would be the classic choice but
# 31^2 = 961 ≡ 1 (mod 64): only two effective weights, so periodic
# text could systematically starve (or flood) boundaries.
CDC_POLY_MULT = 37


def cdc_poly_sql(window: int, codes: str = "cs", pos: str = "i") -> str:
    """DuckDB twin of the CDC boundary polynomial: the same unrolled
    ``Σ codes[pos+j] * MULT^j`` over exact BIGINTs (``codes`` is a
    1-based codepoint list, ``pos`` the 1-based window start)."""
    return " + ".join(
        f"{codes}[{pos} + {j}] * {CDC_POLY_MULT ** j}" if j else f"{codes}[{pos}]"
        for j in range(window)
    )


def cdc_chunks(
    docs,
    window: int = 8,
    divisor: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Content-defined chunking: cut each document where the hash of
    the ``window``-char substring at that position satisfies
    ``hash % divisor == 0`` — so chunk boundaries move WITH the
    content, not the offsets.  Inserting or deleting a prefix shifts
    every fixed-window chunk (:func:`~..sampling.chunk_documents`)
    but leaves all CDC chunks after the edit region identical — the
    property that makes chunk-fingerprint dedup robust to shifted/
    edited near-copies (rsync/LBFS-style chunking applied to corpus
    text; expected chunk length ~``divisor`` chars).

    Entirely per-document array arithmetic — one pass, ZERO shuffles
    (the rebuild stays inside the row).  The boundary hash is a
    polynomial over the window's codepoints,
    ``Σ_j code[i+j] * 37^j  (j < window)``, evaluated over a
    PER-DOCUMENT codepoint array built once (``split('') → ascii``):
    each candidate position then costs ``window`` integer
    multiply-adds against that array.  The previous round hashed
    ``md5(substr(text, i, window))`` per position — one digest PLUS an
    O(i) UTF-8 substring scan per character, which benchmarked 5–7×
    slower than DuckDB running the identical rule and produced the
    scale study's worst growth row.  The polynomial is exact int64
    arithmetic (max codepoint 0x10FFFF × 37^7 × 8 ≈ 8.5e17 < 2^63), so
    DuckDB replays it bit-for-bit; both engines agree that ``ascii``
    returns the full Unicode codepoint of the first character
    (verified incl. supplementary planes).  md5 is kept only for the
    per-chunk fingerprint — one digest per CHUNK, not per character.

    The classic min/max-chunk-size refinement (FastCDC) is
    deliberately omitted: boundary suppression makes each cut depend
    on the previous accepted cut — a sequential scan per document —
    while the stateless predicate keeps every position independent;
    chunk length still cannot exceed the document.

    Output: one row per chunk — ``(id_col, chunk_idx, start, n_chars,
    chunk_fp)`` with 1-based ``start``, chunks tiling the document
    exactly, and ``chunk_fp`` the md5 hex of the chunk text.
    """
    b = _cdc_bounds(docs, window, divisor, text_col, id_col)
    bs = F.col("__bs")
    spans = F.transform(
        F.sequence(F.lit(0), F.size(bs) - 2),
        lambda j: F.struct(
            j.cast("long").alias("chunk_idx"),
            F.element_at(bs, j + 1).alias("start"),
            (F.element_at(bs, j + 2) - F.element_at(bs, j + 1)).alias("n_chars"),
        ),
    )
    out = b.select(
        F.col(id_col), F.col("__t"), F.explode(spans).alias("c")
    ).select(
        id_col,
        "c.chunk_idx",
        "c.start",
        "c.n_chars",
        F.md5(F.col("__t").substr(F.col("c.start"), F.col("c.n_chars"))).alias(
            "chunk_fp"
        ),
    )
    return out


def _cdc_bounds(
    docs,
    window: int,
    divisor: int,
    text_col: str,
    id_col: str,
):
    """Shared CDC stage 1+2: per-doc 1-based boundary array
    ``(id_col, __t text, __bs array<long>)`` — the cut positions both
    :func:`cdc_chunks` (explode to rows) and :func:`cdc_fp_sets`
    (in-row distinct fingerprints) slice from."""
    text = F.col(text_col)
    length = F.length(text)
    codes = F.transform(F.split(text, ""), lambda c: F.ascii(c).cast("long"))
    # Stage 1: materialize the codepoint array as a named column.
    # Downstream expressions reference __cs many times, which blocks
    # CollapseProject from inlining (and thus re-evaluating) the
    # split+ascii pass per use.
    base = docs.filter(length >= 1).select(
        F.col(id_col), text.alias("__t"), codes.alias("__cs")
    )
    cs = F.col("__cs")
    n = F.size(cs)

    def win_hash(i):
        expr = F.element_at(cs, i.cast("int"))
        for j in range(1, window):
            expr = expr + F.element_at(cs, (i + j).cast("int")) * F.lit(
                CDC_POLY_MULT**j
            )
        return expr

    # interior boundary candidates: positions 2 .. L-window+1 (cut 1
    # is implicit; Spark's sequence(2, 1) would count DOWN, so guard)
    cand = F.when(
        n - window + 1 >= 2,
        F.sequence(F.lit(2).cast("long"), (n - window + 1).cast("long")),
    ).otherwise(F.array().cast("array<long>"))
    bounds = F.concat(
        F.array(F.lit(1).cast("long")),
        F.filter(
            F.transform(cand, lambda i: F.when(win_hash(i) % divisor == 0, i)),
            lambda x: x.isNotNull(),
        ),
        F.array((n.cast("long") + 1)),
    )
    # Stage 2: materialize bounds (again multi-referenced below).
    return base.select(F.col(id_col), F.col("__t"), bounds.alias("__bs"))


def cdc_fp_sets(
    docs,
    window: int = 8,
    divisor: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Per-document DISTINCT CDC chunk-fingerprint sets, entirely
    in-row: ``(id_col, fps array<string>, n_ch)`` where ``fps`` is
    exactly ``collect_set(chunk_fp)`` over :func:`cdc_chunks` and
    ``n_ch`` its size — but built with ``array_distinct`` over the
    per-doc span array BEFORE any explode, so the whole relation is
    ZERO shuffles.  :func:`~..dedup.cdc_neardup_pairs` previously
    exploded the chunker's output and immediately re-aggregated it
    with ``groupBy(doc_id).collect_set`` — a full exchange that only
    reassembled rows that were in-row one operator earlier.
    """
    b = _cdc_bounds(docs, window, divisor, text_col, id_col)
    fps = _cdc_fps_expr()
    return b.select(F.col(id_col), fps.alias("fps")).withColumn(
        "n_ch", F.size("fps")
    )


def _cdc_fps_expr():
    """The per-row distinct-fingerprint array over a
    :func:`_cdc_bounds` frame (columns ``__t``, ``__bs``)."""
    bs = F.col("__bs")
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(bs) - 2),
            lambda j: F.md5(
                F.col("__t").substr(
                    F.element_at(bs, j + 1).cast("int"),
                    (F.element_at(bs, j + 2) - F.element_at(bs, j + 1)).cast(
                        "int"
                    ),
                )
            ),
        )
    )


def cdc_fp_inverted(
    docs,
    window: int = 8,
    divisor: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Exploded CDC fingerprint index ``(id_col, chunk_fp, n_ch)`` —
    one row per DISTINCT per-doc fingerprint, ``n_ch`` the doc's
    distinct-fingerprint count — still ZERO shuffles.

    Two optimizer traps shape this plan, measured (50 docs, sf0.01):

    * ``explode`` of a bare ATTRIBUTE whose lineage is the expensive
      in-row fps expression makes ``InferFiltersFromGenerate`` add a
      ``size(fps) > 0`` filter, which predicate pushdown then inlines
      BELOW the ``__cs``/``__bs`` projections — every ``element_at``
      re-evaluates the O(L) codepoint transform, turning the scan
      into O(L² · window) per doc (84 s for 50 docs vs 0.3 s).  Spark
      skips the inference when the generator child is NOT a cheap
      attribute (SPARK-33544's expensive-expression guard), so the
      generator here is the full expression, never a projected
      column.
    * ``n_ch`` as a sibling ``size(fps)`` column would evaluate the
      fps expression a second time per row.  Binding the array to a
      lambda variable via a singleton ``transform(array(fps), a ->
      transform(a, fp -> struct(fp, size(a))))`` evaluates fps ONCE
      and stamps the count into every exploded element.
    """
    b = _cdc_bounds(docs, window, divisor, text_col, id_col)
    wrapped = F.element_at(
        F.transform(
            F.array(_cdc_fps_expr()),
            lambda a: F.transform(
                a,
                lambda fp: F.struct(
                    fp.alias("chunk_fp"), F.size(a).alias("n_ch")
                ),
            ),
        ),
        1,
    )
    return b.select(F.col(id_col), F.explode(wrapped).alias("__e")).select(
        id_col, "__e.chunk_fp", "__e.n_ch"
    )


def unigram_logprob_score(
    docs,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
):
    """CCNet-style LM quality score: average unigram log-probability of
    a document under the corpus's own unigram distribution (real
    pipelines use a KenLM 5-gram; the operator shape — fit a model
    over the corpus, broadcast it, score per doc — is identical).

    Tokens seen fewer than ``min_count`` times collapse into a single
    OOV bucket scored at the bucket's pooled probability
    ``n_oov / total`` — CCNet's min-count prune.  This is what makes
    the broadcast scale-safe: the raw vocabulary of a 100 TB corpus is
    1e8+ entries and mostly hapax legomena (Zipf), so the pruned model
    is orders of magnitude smaller than the raw frequency table that
    an unpruned broadcast would ship to every executor.  Pass
    ``min_count=1`` to disable (exact per-token probabilities).

    One pass over the exploded tokens: the corpus is tokenized ONCE
    into a per-(doc, token) count relation whose lineage is truncated
    (``localCheckpoint``), and both the model fit (vocab frequencies,
    OOV mass, normalizer) and the per-doc scoring read that
    materialized relation — the earlier shape re-exploded the full
    corpus once per branch (Spark re-executes diverged lineage), which
    at 10x data made this the third-worst-growing query.  The count
    aggregation also shrinks the score join from token *instances* to
    distinct (doc, token) pairs; the per-doc average is re-weighted by
    the counts (``sum(c * ln p) / sum(c)`` == the instance average).
    Low scores = rare-token-heavy documents (boilerplate, garbled
    text, wrong language) — the usual "drop bottom X%" filter input.
    """
    from pyspark.sql import functions as F

    tok = docs.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("t"))
    # Lazy localCheckpoint: the broadcast-side job (kept/totals) is the
    # first to run and materializes the blocks; the scoring job then
    # reads them — one tokenize+shuffle total.  (On a cluster with a
    # reliable checkpoint dir configured, swap for .checkpoint().)
    dtok = (
        tok.groupBy(id_col, "t")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    freq = dtok.groupBy("t").agg(F.sum("c").alias("n"))
    kept = freq.filter(F.col("n") >= min_count)
    # Model-side tables are tiny: kept is the pruned vocab; the OOV
    # mass and the normalizer come out of ONE single-row aggregate
    # (n_oov is NULL when nothing was pruned — coalesce only reaches
    # it for tokens missing from kept, which then cannot happen).
    totals = freq.agg(
        F.sum("n").alias("z"),
        F.sum(F.when(F.col("n") < min_count, F.col("n"))).alias("n_oov"),
    )
    scored = (
        dtok.join(F.broadcast(kept), "t", "left")
        .crossJoin(F.broadcast(totals))
        .withColumn("lp", F.log(F.coalesce(F.col("n"), F.col("n_oov")) / F.col("z")))
    )
    return scored.groupBy(id_col).agg(
        (F.sum(F.col("c") * F.col("lp")) / F.sum("c")).alias("avg_logprob")
    )


def tfidf_topk(
    docs,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Per-document top-k keywords by tf-idf — the standard corpus
    keyword/topic-tagging operator (complement of the corpus-level
    top-n-grams view).

    ``tfidf(d, t) = count(d, t) * ln(N / df(t))`` with N = documents
    containing at least one token and df = documents containing t.
    Deterministic total order per doc: score desc, then token asc, so
    the rank column is engine-replayable.

    Same single-pass shape as :func:`unigram_logprob_score`: the
    corpus is tokenized ONCE into a (doc, token, count) relation with
    truncated lineage, and both the document-frequency model and the
    scoring read it.  Unlike the LM score's min-count-pruned vocab,
    the df table CANNOT be pruned (rare tokens are exactly the
    high-idf ones) and at 100 TB it is the full vocabulary — so its
    join is left to AQE rather than broadcast-hinted (runtime sizes
    pick broadcast when the vocab is actually small; a skewed hot
    token splits under AQE skew-join, which a count-over-window df
    would not).  Only the single-row N joins with an explicit hint.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    dtok = (
        docs.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("t"))
        .groupBy(id_col, "t")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    df_ = dtok.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    n_docs = dtok.agg(F.count_distinct(id_col).alias("n_docs"))
    scored = (
        dtok.join(df_, "t")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(F.col("c") * F.log(F.col("n_docs") / F.col("df")), 6),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("t"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "rank", F.col("t").alias("token"), "tfidf")
    )


def perplexity_buckets(
    docs,
    n_buckets: int = 3,
    strata_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
):
    """CCNet head/middle/tail bucketing (Wenzek et al. 2020): score
    every document with the corpus unigram LM, then split each
    language into ``n_buckets`` equal-count perplexity tiers —
    bucket 1 ("head") is the most-fluent tier real pipelines keep,
    the last ("tail") the usual drop.

    NTILE over (score DESC, id) per language: one extra shuffle on
    the language key after the scoring aggregation, and the per-lang
    sort is by a per-doc scalar — no data blowup anywhere, so the
    operator inherits :func:`unigram_logprob_score`'s scale shape.
    Scores are rounded to 6 decimals BEFORE ranking on both engines
    (last-ulp float differences must not flip tier boundaries).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    scored = unigram_logprob_score(
        docs, text_col=text_col, id_col=id_col, min_count=min_count
    ).withColumn("avg_logprob", F.round("avg_logprob", 6))
    lang = docs.select(F.col(id_col), F.col(strata_col))
    w = Window.partitionBy(strata_col).orderBy(
        F.col("avg_logprob").desc(), F.col(id_col).asc()
    )
    tier = F.ntile(n_buckets).over(w)
    label = (
        F.when(tier == 1, "head")
        .when(tier == n_buckets, "tail")
        .otherwise("middle")
    )
    return (
        scored.join(lang, id_col)
        .select(
            F.col(id_col),
            F.col(strata_col),
            F.col("avg_logprob"),
            tier.cast("int").alias("tier"),
            label.alias("tier_name"),
        )
    )


def bigram_logprob_score(
    docs,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
    alpha: float = 0.4,
):
    """Stupid-backoff bigram LM score (Brants et al. 2007, "Large
    Language Models in Machine Translation"): the next quality tier
    above :func:`unigram_logprob_score` — average log-score of each
    token given its predecessor under the corpus's own bigram
    distribution, backing off to the min-count-pruned unigram model
    with penalty ``alpha`` when the bigram was pruned:

        S(w | v) = c2(v, w) / c1(v)            if c2 >= min_count
                 = alpha * P_uni(w)            otherwise

    with ``c1`` the corpus unigram count of the context and ``P_uni``
    exactly the unigram scorer's pooled-OOV model.  Stupid backoff is
    the LM real web-scale pipelines actually run (no normalization =
    no second pass over contexts); low scores flag locally-incoherent
    text — shuffled tokens, keyword stuffing — that per-token unigram
    statistics cannot see.

    Single-tokenize AND single-explode: the corpus is tokenized once
    and exploded ONCE into a per-position relation ``(doc, v, w)``
    with ``v`` the token at position i and ``w`` its successor (NULL
    at the last position of each doc).  Every token appears exactly
    once as ``v``, so the SAME exploded relation feeds both the
    unigram frequency model (groupBy v) and the per-doc bigram counts
    (filter w IS NOT NULL, groupBy) — the round-7 shape exploded the
    token arrays twice, doubling the per-token row cost that
    dominates at corpus scale.  The global bigram count ``c2`` is a
    window sum over (v, w) on the per-doc bigram relation — one
    exchange replacing the previous groupBy-then-self-join (one fewer
    shuffle, one fewer checkpoint, and the model and the scoring rows
    are co-partitioned by construction).  The unigram model joins
    (context counts, kept-unigram backoff) are left to AQE: the vocab
    relation usually broadcasts, but it grows with the corpus (typos,
    URLs), so a hint would be wrong at 100 TB.  Docs with fewer than
    two tokens have no bigrams and are absent from the output (both
    engines agree).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ts = tokens(F.col(text_col))
    n = F.size(ts)
    succ = F.concat(
        F.slice(ts, 2, F.greatest(n - 1, F.lit(0))),
        F.array(F.lit(None).cast("string")),
    )
    pos = (
        docs.filter(n >= 1)
        .select(
            F.col(id_col),
            F.explode(
                F.zip_with(ts, succ, lambda a, b: F.struct(a.alias("v"), b.alias("w")))
            ).alias("p"),
        )
        .select(id_col, "p.v", "p.w")
        .localCheckpoint(eager=False)
    )
    # Measured alternative, rejected: repartition("v", "w") before the
    # groupBy would satisfy both this aggregation's clustering AND the
    # c2 window's (v, w) requirement — one exchange instead of two —
    # but the shuffle then carries raw position rows instead of
    # map-side partially-counted (id, v, w) rows, and the lost combine
    # outweighed the saved exchange at every scale tried (sf1-equiv
    # realistic vocab: 2.93 s -> 3.13 s).
    dbig = (
        pos.filter(F.col("w").isNotNull())
        .groupBy(id_col, "v", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # freq feeds THREE consumers (context counts, kept-unigram side,
    # OOV totals); checkpointed so the count aggregation over the
    # token-sized relation runs once, not once per diverged branch
    freq = (
        pos.groupBy(F.col("v").alias("t"))
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    kept_uni = freq.filter(F.col("n") >= min_count).select(
        F.col("t").alias("w"), F.col("n").alias("n_w")
    )
    ctx = freq.select(F.col("t").alias("v"), F.col("n").alias("c1"))
    totals = freq.agg(
        F.sum("n").alias("z"),
        F.sum(F.when(F.col("n") < min_count, F.col("n"))).alias("n_oov"),
    )
    scored = (
        dbig.withColumn(
            "c2", F.sum("c").over(Window.partitionBy("v", "w"))
        )
        .join(ctx, "v")
        .join(kept_uni, "w", "left")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "lp",
            F.when(
                F.col("c2") >= min_count, F.log(F.col("c2") / F.col("c1"))
            ).otherwise(
                F.log(
                    F.lit(alpha)
                    * F.coalesce(F.col("n_w"), F.col("n_oov"))
                    / F.col("z")
                )
            ),
        )
    )
    return scored.groupBy(id_col).agg(
        (F.sum(F.col("c") * F.col("lp")) / F.sum("c")).alias("avg_bigram_logprob")
    )
