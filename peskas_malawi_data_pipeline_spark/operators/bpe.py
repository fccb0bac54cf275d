"""BPE vocabulary induction (Sennrich et al. 2016) at corpus scale.

The reference pipeline has no tokenizer-training stage; a training-data
engine needs one. The structure that makes BPE tractable at 100 TB is that
after ONE distributed pass (word counts), every merge round operates on
the weighted VOCABULARY — orders of magnitude smaller than the corpus —
so the iterative part never rescans the corpus. Three fit strategies,
all producing BIT-IDENTICAL merge sequences (differentially tested):

- ``local``: collect the weighted vocabulary to the driver and run the
  textbook sequential algorithm with a lazy max-heap and incremental
  pair-count maintenance — the shape of Sennrich's reference trainer.
  O(1) Spark jobs regardless of ``k``; the right path whenever the
  vocabulary fits driver memory (a 100 TB web corpus has ~10⁸ distinct
  words — a few GB — while the corpus itself never moves).
- ``batched``: distributed rounds that learn SEVERAL merges per round —
  the top pairs that share no symbol, guarded so no pair created by an
  earlier merge in the batch could out-rank (or tie by count with) a
  later one (see :func:`_safe_merge_batch` for the exactness argument).
  Spark jobs ≈ 2·k/avg_batch instead of 2·k.
- ``rounds``: one merge per distributed round — the k=5 oracle shape and
  the differential anchor for the other two.
- ``auto`` (default): ``local`` when a cheap count shows the vocabulary
  is within ``local_vocab_limit`` rows, else ``batched``.

Symbols are encoded as a marker-prefixed space-joined string
(``\\x1f`` + symbol, joined by single spaces): the marker makes the merge
a plain non-overlapping left-to-right string ``replace`` — exactly the
textbook greedy merge — with no lookaround regex (which RE2-based oracle
engines lack) and no false suffix matches (``xa b`` can never match the
pattern for ``a b`` because markers only occur at symbol starts). The
RIGHT boundary needs the same care: the rewrite runs over the
trailing-space-sentinel form ``syms || ' '`` replacing
``\\x1fa \\x1fb `` with ``\\x1fab `` so the second symbol must END at a
space — a bare ``\\x1fa \\x1fb`` pattern would also match where the
second symbol merely STARTS with ``b`` (e.g. symbols ``a``,``bc`` after
an earlier ``(b,c)`` merge), corrupting later-round vocabularies. Marker
characters are stripped from input words first, so adversarial input
cannot forge symbol boundaries; symbols never contain ASCII spaces
(tokenization splits on whitespace), so ``rtrim`` removes exactly the
sentinel.

Tie-breaks are identical everywhere: (count DESC, marker-encoded pair
string ASC). Spark compares strings by UTF-8 bytes and Python by code
points — UTF-8 is code-point-order-preserving, so the two orders agree.
"""

from __future__ import annotations

import heapq
from collections import defaultdict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.barrier import materialize
from ..functions import text as T

MARKER = "\x1f"

# auto-strategy cutover: vocabularies at or under this many distinct words
# are collected and fitted on the driver (rows are (word-sized string,
# int64) — 2M rows is low hundreds of MB, well inside any driver heap).
DEFAULT_LOCAL_VOCAB_LIMIT = 2_000_000

# batched strategy: how many top pairs to collect per round as batch
# candidates. The batch is usually much smaller (the guard truncates at
# the first symbol collision); collecting more than we can ever select
# just wastes a slightly wider limit-N on a vocabulary-sized aggregate.
_BATCH_CANDIDATES = 64

# chained-encode fallback: literal replaces per select before a
# materialize barrier bounds the expression depth. MEASURED: an unbatched
# chain StackOverflows the JVM at plan construction around 2k merges
# (column→expression conversion recurses per node), so the barrier is a
# correctness bound, not a tuning knob; 128 keeps each select far from
# the cliff while paying only k/128 vocabulary-sized barriers.
_CHAIN_BATCH = 128


def _sym_expr(word_col):
    """Marker-encoded symbolization of a word column — THE shared
    encoding: fit and encode must agree byte-for-byte or learned merges
    silently stop matching (n_subwords would degrade to char counts with
    no error), so both build it here."""
    clean = F.regexp_replace(word_col, MARKER, "")
    chars = F.filter(F.split(clean, "(?!^)"), lambda c: c != "")
    return F.concat_ws(" ", F.transform(
        chars, lambda c: F.concat(F.lit(MARKER), c)))


def _symbolized_vocab(df: DataFrame, text_col: str) -> DataFrame:
    """Weighted vocabulary with each word as a marker-encoded symbol
    string: ``(syms, cnt)``. The ONLY corpus-scale step."""
    words = (df.select(F.explode(T.tokens(F.col(text_col))).alias("w"))
             .groupBy("w").agg(F.count(F.lit(1)).alias("cnt")))
    return (words.select(_sym_expr(F.col("w")).alias("syms"), "cnt")
            .filter(F.length("syms") > 0))


def _display(pair: str, new_sym: str) -> tuple[str, str]:
    """Marker-encoded (pair, new_symbol) → display form (markers
    stripped), shared by every strategy so output rows are identical."""
    return pair.replace(MARKER, ""), new_sym.replace(MARKER, "")


def _merged_symbol(pair: str) -> str:
    """``\\x1fa \\x1fb`` → ``\\x1fab`` (still marker-encoded)."""
    return pair.replace(" " + MARKER, "")


def bpe_fit(df: DataFrame, text_col: str = "text", k: int = 5,
            strategy: str = "auto",
            local_vocab_limit: int = DEFAULT_LOCAL_VOCAB_LIMIT) -> DataFrame:
    """Learn the first ``k`` BPE merges from the corpus: per merge, count
    adjacent symbol pairs weighted by word frequency, take the most
    frequent (ties broken by the marker-encoded pair string — fully
    deterministic), rewrite the vocabulary with the merged symbol,
    repeat. Returns ``(merge_rank, pair, new_symbol, pair_count)`` —
    markers stripped. All strategies return identical rows; they differ
    only in job structure (module docstring).

    Plan: one corpus shuffle (word counts) in every strategy. ``local``
    adds one count + one vocabulary collect and zero per-merge jobs;
    ``batched``/``rounds`` add per ROUND one vocabulary-sized pair
    aggregation + an answer-sized argmax collect (the collected rows ARE
    the merges being learned) + one pure-map rewrite, with each round's
    vocabulary re-materialized so the rewrite chain never re-executes
    upstream rounds.
    """
    if strategy not in {"auto", "local", "batched", "rounds"}:
        raise ValueError(f"unknown strategy {strategy!r}")
    spark = df.sparkSession
    vocab = _symbolized_vocab(df, text_col)
    rows = None
    if strategy == "auto":
        # ONE limit(n+1)-collect decides the gate AND (when local wins)
        # delivers the whole vocabulary: limit(n+1) returns every row
        # when the vocabulary fits, so the previous
        # materialize+count+collect triple (3 actions, with the
        # materialize a multi-job AQE cascade + a cached copy nothing
        # reuses on the local path) collapses to one job. The rare
        # over-limit corpus pays one n+1-row collect before the
        # distributed path (which then materializes, as before).
        rows = vocab.limit(local_vocab_limit + 1).collect()
        strategy = "local" if len(rows) <= local_vocab_limit else "batched"
    if strategy == "local":
        if rows is None:
            rows = vocab.collect()
        merges = _fit_local(
            [(r["syms"], int(r["cnt"])) for r in rows], k)
    else:
        merges = _fit_distributed(materialize(vocab), k,
                                  batched=(strategy == "batched"))
    return spark.createDataFrame(
        merges,
        "merge_rank long, pair string, new_symbol string, pair_count long")


def _pair_rows(vocab: DataFrame):
    """Adjacent-pair list per vocabulary row (marker-encoded
    ``"\\x1fa \\x1fb"`` strings), weighted by word count."""
    t = F.split(F.col("syms"), " ")
    # sequence(1, 0) counts DOWN in Spark, so single-symbol words need an
    # explicit empty-pairs branch, not a clamped upper bound
    return T.bound(t, lambda s: F.when(
        F.size(s) > 1,
        F.transform(
            F.sequence(F.lit(1), F.size(s) - 1),
            lambda i: F.concat(F.get(s, i - 1), F.lit(" "), F.get(s, i))))
        .otherwise(F.array().cast("array<string>")))


def _fit_distributed(vocab: DataFrame, k: int, batched: bool) -> list:
    """Distributed merge rounds; one merge per round when ``batched`` is
    False, a :func:`_safe_merge_batch` per round when True. Exactly the
    sequential merge sequence either way."""
    pair_list = _pair_rows(vocab)
    merges: list[tuple[int, str, str, int]] = []
    while len(merges) < k:
        want = k - len(merges)
        n_cand = min(_BATCH_CANDIDATES, want * 4) if batched else 1
        top = (vocab.select(F.explode(pair_list).alias("pair"), "cnt")
               .groupBy("pair").agg(F.sum("cnt").alias("n"))
               .orderBy(F.desc("n"), "pair").limit(n_cand).collect())
        if not top:
            break
        rows = [(r["pair"], int(r["n"])) for r in top]
        batch = (_safe_merge_batch(rows, want,
                                   truncated=len(rows) == n_cand)
                 if batched else rows[:1])
        # trailing-space sentinel: both symbols must END at a space, so a
        # pair (a, b) never matches a longer second symbol starting with
        # b. Batch pairs are symbol-disjoint, so the chained replaces
        # neither feed nor mask each other — one rewrite, one barrier.
        col = F.concat(F.col("syms"), F.lit(" "))
        for pair, n in batch:
            new_sym = _merged_symbol(pair)
            dp, dn = _display(pair, new_sym)
            merges.append((len(merges) + 1, dp, dn, n))
            col = F.replace(col, F.lit(pair + " "), F.lit(new_sym + " "))
        vocab = materialize(vocab.withColumn("syms", F.rtrim(col)))
    return merges


def _safe_merge_batch(rows: list[tuple[str, int]], want: int,
                      truncated: bool) -> list[tuple[str, int]]:
    """Select a prefix of the count-ordered pair list that is PROVABLY the
    next merges sequential BPE would learn, so a whole batch can be
    applied in one vocabulary rewrite.

    ``rows`` is the global pair ranking ``[(marker-encoded pair, count)]``
    sorted by (count DESC, pair ASC) — the exact sequential pick order.
    Applying merge ``(a, b) → ab`` changes pair counts in only three
    ways: pairs touching ``a`` or ``b`` DECREASE, brand-new pairs touching
    ``ab`` appear, and every symbol-disjoint pair is untouched. A created
    pair ``(x, ab)`` occurs only where ``(x, a)`` occurred, so its count
    is bounded by the OLD count of some pair sharing a symbol with the
    applied merge. Therefore the i-th tentative pick equals sequential's
    i-th merge provided (1) it shares no symbol with earlier picks (its
    count is then still its old count) and (2) its count STRICTLY exceeds
    the count of every non-picked pair sharing a symbol with any earlier
    pick — strict, because at equal counts a created pair could win the
    string tie-break and we cannot rank a string we haven't built.

    Selection: greedy symbol-disjoint prefix (stop at the first
    collision — later disjoint pairs rank below the colliding pair and
    created pairs may reach its count), then truncate to picks whose
    count strictly exceeds every overlapping non-picked candidate,
    re-checking until stable (truncation only shrinks the overlap set, so
    this converges and errs conservative). When ``rows`` was truncated by
    the collect limit, unseen pairs can count at most ``rows[-1]``'s
    count — fold that into the guard. The first pick is always the true
    argmax, so the worst case degrades to one merge per round, never to a
    wrong merge.
    """
    picked: list[tuple[str, int]] = []
    used: set[str] = set()
    for pair, n in rows:
        if len(picked) >= want:
            break
        a, b = pair.split(" ")
        if a in used or b in used:
            break
        picked.append((pair, n))
        # also reserve the merged symbol: no candidate in `rows` can
        # contain it (merges only ever concatenate, so symbol `ab` existing
        # would mean (a, b) was already merged) — defensive, costs nothing
        used.update((a, b, _merged_symbol(pair)))
    while len(picked) > 1:
        symbols = set()
        for pair, _ in picked:
            symbols.update(pair.split(" "))
        floor = rows[-1][1] if truncated else -1
        guard = floor
        picked_set = {p for p, _ in picked}
        for pair, n in rows:
            if pair in picked_set:
                continue
            a, b = pair.split(" ")
            if a in symbols or b in symbols:
                guard = max(guard, n)
        keep = [picked[0]]
        for pair, n in picked[1:]:
            if n > guard:
                keep.append((pair, n))
            else:
                break
        if len(keep) == len(picked):
            break
        picked = keep
    return picked


def _fit_local(rows: list[tuple[str, int]], k: int) -> list:
    """Sequential BPE over a driver-resident weighted vocabulary: lazy
    max-heap of pair counts + incremental per-merge maintenance (only
    words CONTAINING the merged pair are rewritten, found through an
    occurrence index) — the classic trainer structure, O(affected words)
    per merge instead of a vocabulary scan.

    The heap is lazy: counts change without removing stale entries; a
    popped entry is trusted only if it matches the live count, else it is
    refreshed. The occurrence index may hold stale word ids (words
    rewritten since insertion) — the rewrite re-checks containment.
    Ordering key ``(-count, pair string)`` reproduces the distributed
    ``ORDER BY n DESC, pair`` exactly (module docstring: UTF-8 vs
    code-point order agree)."""
    words: list[tuple[list[str], int]] = [
        (syms.split(" "), cnt) for syms, cnt in rows]
    counts: dict[tuple[str, str], int] = defaultdict(int)
    where: dict[tuple[str, str], set[int]] = defaultdict(set)
    for wid, (s, c) in enumerate(words):
        for i in range(len(s) - 1):
            p = (s[i], s[i + 1])
            counts[p] += c
            where[p].add(wid)
    heap = [(-n, a + " " + b, (a, b)) for (a, b), n in counts.items()]
    heapq.heapify(heap)
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, k + 1):
        while heap:
            negn, pstr, p = heap[0]
            live = counts.get(p, 0)
            if live == -negn and live > 0:
                break
            heapq.heappop(heap)
            if live > 0:
                heapq.heappush(heap, (-live, pstr, p))
        if not heap:
            break
        negn, pstr, (a, b) = heapq.heappop(heap)
        n = -negn
        merged = a + b[len(MARKER):]
        dp, dn = _display(pstr, merged)
        merges.append((rank, dp, dn, n))
        for wid in where.pop((a, b), ()):
            s, c = words[wid]
            out: list[str] = []
            i, L = 0, len(s)
            changed = False
            while i < L:
                if i < L - 1 and s[i] == a and s[i + 1] == b:
                    out.append(merged)
                    i += 2
                    changed = True
                else:
                    out.append(s[i])
                    i += 1
            if not changed:          # stale index entry
                continue
            for i in range(len(s) - 1):
                q = (s[i], s[i + 1])
                left = counts[q] - c
                if left > 0:
                    counts[q] = left
                else:
                    counts.pop(q, None)
            for i in range(len(out) - 1):
                q = (out[i], out[i + 1])
                nv = counts[q] + c
                counts[q] = nv
                where[q].add(wid)
                heapq.heappush(heap, (-nv, q[0] + " " + q[1], q))
            words[wid] = (out, c)
        counts.pop((a, b), None)
    return merges


def _encode_lengths_local(word_list: list[str], merges) -> list:
    """``(word, n_subwords)`` rows — the length projection of
    :func:`_encode_segments_local` (kept as the counts-path entry so the
    two encoders can never drift)."""
    return [(w, len(s)) for w, s in _encode_segments_local(word_list, merges)]


def _encode_segments_local(word_list: list[str], merges) -> list:
    """Driver-side sequential encode of a distinct-word vocabulary:
    ``(word, [subword symbols])`` rows after applying ``merges`` IN ORDER with
    non-overlapping left-to-right replacement — byte-for-byte the
    semantics of the chained-replace path, reproduced in symbol-list
    space (so no marker/sentinel machinery is needed: list adjacency IS
    the boundary). The structure mirrors :func:`_fit_local`: a
    pair → word-id occurrence index makes each merge O(affected words),
    not a vocabulary scan, and O(1) dict probes for the k−affected
    merges a given corpus never exercises — total work is
    O(total symbols + merge applications), independent of k for the
    merges that don't fire. Rewrites register their newly created
    adjacencies so later merges see them; already-processed merges are
    never revisited (exactly the sequential contract — a pair occurrence
    CREATED by a later merge stays unmerged, matching the chained
    replace). Words emptied by marker sanitization are omitted (the
    distributed path's ``length(syms) > 0`` filter)."""
    words: dict[int, list[str]] = {}
    where: dict[tuple[str, str], set[int]] = defaultdict(set)
    for wid, w in enumerate(word_list):
        s = [c for c in w.replace(MARKER, "")]
        if not s:
            continue
        words[wid] = s
        for i in range(len(s) - 1):
            where[(s[i], s[i + 1])].add(wid)
    for pair, new_symbol in merges:
        a, b = pair.split(" ", 1)
        for wid in where.pop((a, b), ()):
            s = words[wid]
            out: list[str] = []
            i, L = 0, len(s)
            changed = False
            while i < L:
                if i < L - 1 and s[i] == a and s[i + 1] == b:
                    out.append(new_symbol)
                    i += 2
                    changed = True
                else:
                    out.append(s[i])
                    i += 1
            if not changed:          # stale index entry (word rewritten)
                continue
            for i in range(len(out) - 1):
                where[(out[i], out[i + 1])].add(wid)
            words[wid] = out
    return [(word_list[wid], s) for wid, s in words.items()]


def bpe_apply_counts(df: DataFrame, merges, id_col: str = "doc_id",
                     text_col: str = "text", strategy: str = "auto",
                     local_vocab_limit: int = DEFAULT_LOCAL_VOCAB_LIMIT
                     ) -> DataFrame:
    """Apply learned merges to the corpus and count subwords per document
    — the ENCODE side of BPE, and the real token-budget number a packing/
    mixing stage needs (whitespace counts over-estimate once a subword
    vocab exists). ``merges`` is the (pair, new_symbol) sequence from
    :func:`bpe_fit` (display form, no markers).

    Strategies (bit-identical outputs, differentially tested):

    - ``local``: collect the distinct-word vocabulary to the driver,
      encode it sequentially (:func:`_encode_lengths_local`), and
      broadcast the (word → n_subwords) map back. O(1) Spark jobs AND
      O(1) plan size in the merge count — the production path for a
      32k-merge vocabulary, where the chained path's k-deep expression
      tree is the bound (SCALE.md §10g), mirroring ``bpe_fit``'s
      ``local`` trainer: the vocabulary moves once, the corpus never.
    - ``chained``: k chained literal replaces over the distinct-word
      frame — fully distributed, the fallback when the vocabulary
      exceeds driver memory. Replaces run in ``_CHAIN_BATCH``-deep
      selects with a materialize barrier between batches: an unbatched
      chain StackOverflows plan construction near 2k merges, so the
      barrier is what makes this path viable at production merge
      counts (k/128 vocabulary-sized barriers, never a corpus pass).
    - ``auto`` (default): ``local`` when a cheap count shows the
      vocabulary is within ``local_vocab_limit`` rows, else ``chained``.

    Plan (either strategy): the merge evaluation runs over the
    DISTINCT-WORD table, not the corpus, and the corpus is touched by
    one explode + one join against the (word → subword-count) map
    (broadcast under ``local`` — the gate already proved it
    driver-sized; Catalyst/AQE-sized otherwise) + one per-doc
    aggregation. Words emptied by marker sanitization drop out of both
    sides identically."""
    if strategy not in {"auto", "local", "chained"}:
        raise ValueError(f"unknown strategy {strategy!r}")
    words = (df.select(F.explode(T.tokens(F.col(text_col))).alias("w"))
             .distinct())
    wrows = None
    if strategy == "auto":
        # one limit(n+1)-collect gates AND delivers the vocabulary
        # (same single-action shape as bpe_fit's auto gate)
        wrows = words.limit(local_vocab_limit + 1).collect()
        strategy = ("local" if len(wrows) <= local_vocab_limit
                    else "chained")
    if strategy == "local":
        if wrows is None:
            wrows = words.collect()
        rows = _encode_lengths_local([r["w"] for r in wrows], merges)
        wl = F.broadcast(df.sparkSession.createDataFrame(
            rows, "w string, n_sub long"))
    else:
        enc = words.select("w", _sym_expr(F.col("w")).alias("syms")) \
            .filter(F.length("syms") > 0)
        # same trailing-space sentinel as bpe_fit: the pattern ends in
        # " ", so a merge never matches a longer second symbol that
        # merely starts with b (chain runs on syms || ' ', the sentinel
        # rtrimmed at each batch boundary — syms never ends in a space,
        # so re-appending it next batch is exact)
        merges = list(merges)
        for start in range(0, len(merges), _CHAIN_BATCH):
            col = F.concat(F.col("syms"), F.lit(" "))
            for pair, new_symbol in merges[start:start + _CHAIN_BATCH]:
                a, b = pair.split(" ", 1)
                col = F.replace(col, F.lit(f"{MARKER}{a} {MARKER}{b} "),
                                F.lit(f"{MARKER}{new_symbol} "))
            enc = enc.select("w", F.rtrim(col).alias("syms"))
            if start + _CHAIN_BATCH < len(merges):
                enc = materialize(enc)
        wl = enc.select("w", F.size(F.split(F.col("syms"), " "))
                        .cast("long").alias("n_sub"))
    tok = df.select(F.col(id_col), F.explode(T.tokens(F.col(text_col)))
                    .alias("w"))
    return (tok.join(wl, "w")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_words"),
                 F.sum("n_sub").cast("long").alias("n_subwords")))


# document-boundary marker id — reserved: no symbol maps to 0, so a
# consumer that concatenates documents' ids can separate them with it.
BOUNDARY_ID = 0


def token_id_map(merges) -> dict[str, int]:
    """Deterministic subword-symbol → token-id assignment for a learned
    merge sequence: merge rank ``r``'s ``new_symbol`` gets id ``r`` (if
    two merges ever produce the same symbol string — possible, e.g.
    ``(a,bc)`` and ``(ab,c)`` both yielding ``abc`` — the MIN rank wins,
    replayable in SQL as ``min(rank) GROUP BY new_symbol``); a single
    base character ``c`` gets id ``k + codepoint(c)`` (``k`` = number of
    merges, codepoint ≥ 1, so base ids never collide with merge ids and
    id 0 stays reserved for :data:`BOUNDARY_ID`). Merged symbols are
    always ≥ 2 chars (a merge concatenates two non-empty symbols), so
    the two ranges partition the symbol space with no ambiguity. No
    corpus statistics enter the rule — the id of a symbol is a pure
    function of the merge table, so any engine (or the DuckDB oracle)
    reproduces it exactly."""
    merges = list(merges)
    ids: dict[str, int] = {}
    for rank, (_pair, new_symbol) in enumerate(merges, start=1):
        ids.setdefault(new_symbol, rank)
    return ids


def bpe_vocab_table(df: DataFrame, merges,
                    text_col: str = "text",
                    local_vocab_limit: int = DEFAULT_LOCAL_VOCAB_LIMIT
                    ) -> DataFrame:
    """The EXPORTABLE vocabulary artifact for a learned merge table:
    one row per assignable token id — ``(token_id, symbol, kind)`` with
    kind ∈ {boundary, merge, base} — i.e. the id space
    :func:`token_id_map` defines, materialized as data a trainer or a
    detokenizer loads. ``boundary`` is the reserved id 0 (NULL symbol);
    ``merge`` rows are the distinct ``new_symbol`` strings at their MIN
    rank (a duplicate later rank is never assigned); ``base`` rows are
    the distinct single characters the corpus vocabulary actually
    contains, at ``k + codepoint``. The alphabet is extracted ENTIRELY
    driver-side from the distinct-word collect (the same
    ``local_vocab_limit``-gated collect :func:`bpe_encode_ids` already
    pays): Python strings are codepoint sequences, so astral-plane
    characters come out whole with exact ``ord`` ids — a JVM-side
    zero-width ``split`` walks UTF-16 code units and cuts surrogate
    pairs into lone halves (measured: even a surrogate-class lookbehind
    doesn't stop it), which would drift the exported base ids from the
    ids :func:`bpe_encode_ids` actually emits. Plan: one corpus pass
    for the distinct-word set; everything else is driver-side over the
    bounded vocabulary."""
    merges = list(merges)
    k = len(merges)
    rank_of = token_id_map(merges)
    rows = [(0, None, "boundary")]
    rows += [(rank, sym, "merge")
             for sym, rank in sorted(rank_of.items(),
                                     key=lambda kv: kv[1])]
    wrows = (df.select(F.explode(T.tokens(F.col(text_col))).alias("w"))
             .distinct().limit(local_vocab_limit + 1).collect())
    if len(wrows) > local_vocab_limit:
        raise ValueError(
            f"bpe_vocab_table: vocabulary has over {local_vocab_limit} "
            f"distinct words (local_vocab_limit); raise the limit "
            f"or pre-shard the vocabulary")
    alphabet = sorted({ch for r in wrows
                       for ch in r["w"].replace(MARKER, "")})
    rows += [(k + ord(c), c, "base") for c in alphabet]
    return df.sparkSession.createDataFrame(
        rows, "token_id long, symbol string, kind string")


def bpe_word_id_map(df: DataFrame, merges, text_col: str = "text",
                    known: DataFrame | None = None,
                    local_vocab_limit: int = DEFAULT_LOCAL_VOCAB_LIMIT
                    ) -> DataFrame:
    """The (w, ids array<long>) word → token-id map behind
    :func:`bpe_encode_ids`, exposed as a MAINTAINABLE artifact: with
    ``known`` (a previously-built map) only the words of ``df`` NOT in
    it are encoded — the incremental-vocabulary path a continuous
    encode+pack stream needs (each batch re-paid the full distinct-word
    merge walk before this; now a batch pays O(its new words) and the
    union IS the next batch's ``known``). Extra words in ``known`` that
    ``df`` lacks are harmless downstream (the encode join is inner on
    the corpus side), so the map only ever grows — append-only like the
    pack state it travels with. The ``local_vocab_limit`` gate applies
    to the words actually being encoded (the increment)."""
    merges = list(merges)
    k = len(merges)
    words = df.select(F.explode(T.tokens(F.col(text_col))).alias("w")) \
        .distinct()
    if known is not None:
        words = words.join(known.select("w"), "w", "left_anti")
    # one limit(n+1)-collect replaces materialize+count+collect: it
    # returns the complete word set whenever the gate passes, and the
    # gate is exactly len > limit
    wrows = words.limit(local_vocab_limit + 1).collect()
    if len(wrows) > local_vocab_limit:
        raise ValueError(
            f"bpe_word_id_map: over {local_vocab_limit} new distinct "
            f"words (local_vocab_limit); raise the limit or pre-shard "
            f"the vocabulary")
    rank_of = token_id_map(merges)
    rows = [(w, [rank_of[s] if len(s) > 1 else k + ord(s) for s in syms])
            for w, syms in _encode_segments_local(
                [r["w"] for r in wrows], merges)]
    new_map = df.sparkSession.createDataFrame(
        rows, "w string, ids array<long>")
    return known.unionByName(new_map) if known is not None else new_map


def bpe_encode_ids(df: DataFrame, merges, id_col: str = "doc_id",
                   text_col: str = "text",
                   local_vocab_limit: int = DEFAULT_LOCAL_VOCAB_LIMIT,
                   word_map: DataFrame | None = None) -> DataFrame:
    """Encode each document to its BPE token-ID sequence — the step that
    turns a token BUDGET into an actual training example. Returns
    ``(id_col, token_ids array<long>, n_tokens long)`` with ids per
    :func:`token_id_map` (word order preserved; words emptied by marker
    sanitization drop out exactly as in :func:`bpe_apply_counts`;
    documents with no surviving words are absent — same inner-join
    contract as the counts path).

    Plan shape (the ``local`` strategy of :func:`bpe_apply_counts`,
    which is the production path for any driver-sized vocabulary): the
    merge machinery runs ONCE over the DISTINCT-WORD vocabulary on the
    driver (:func:`_encode_segments_local` — O(total symbols + merge
    applications), independent of ``k`` for merges that never fire),
    and the corpus pays one ``posexplode`` + one BROADCAST join against
    the word → id-array map + one per-doc sort-free reassembly
    (``array_sort`` on (pos, ids) structs inside the aggregate — no
    window, no second shuffle). The corpus is shuffled once, on
    ``id_col``, moving exactly the output's ids. A vocabulary over
    ``local_vocab_limit`` raises rather than silently collecting — at
    that size encode lengths via the ``chained`` strategy of
    :func:`bpe_apply_counts` or shard the vocabulary first.

    ``word_map``: a precomputed :func:`bpe_word_id_map` frame — the
    incremental path skips the per-call distinct-word walk entirely and
    joins against the maintained artifact (words of ``df`` absent from
    the map silently drop, exactly as marker-emptied words do; callers
    maintaining a map are responsible for growing it with each batch
    BEFORE encoding)."""
    if word_map is None:
        word_map = bpe_word_id_map(df, merges, text_col=text_col,
                                   local_vocab_limit=local_vocab_limit)
    wl = F.broadcast(word_map)
    tok = df.select(F.col(id_col),
                    F.posexplode(T.tokens(F.col(text_col)))
                    .alias("pos", "w"))
    assembled = F.flatten(F.transform(
        F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col("ids")))),
        lambda s: s["ids"]))
    return (tok.join(wl, "w")
            .groupBy(id_col)
            .agg(assembled.alias("token_ids"))
            .withColumn("n_tokens", F.size("token_ids").cast("long")))
