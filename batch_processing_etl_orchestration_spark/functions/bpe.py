"""Tokenizer-exact BPE token counting (VERDICT r9 next #2) — the last
first-class LLM-pipeline operator the catalog lacked: every token
budget so far (q_token_count_regex, q_pack_sequences,
q_token_budget_sample, q_chunk_documents) counts whitespace/regex
tokens, but a training-data pipeline budgets in TOKENIZER tokens and
whitespace proxies drift 20-40% by language.

Design — the same Python-boundary pattern as the multimodal kernels:

- The merge list is a SMALL COMMITTED CONSTANT (bpe_merges.json,
  trained deterministically by tools/train_bpe.py — frequency then
  lexicographic tie-break). At 100 TB a real tokenizer's merges table
  is ~100k rows ≈ a few MB: it rides to executors as a task-closure
  broadcast exactly like this one; nothing here scales with data.
- Encoding semantics are classic Sennrich BPE: a word starts as its
  character sequence and each merge, in learned priority order,
  rewrites all its adjacent occurrences LEFT-TO-RIGHT, exhaustively,
  before the next merge applies. Merges never cross word boundaries.
  The PRODUCTION encoder realizes those semantics with rank-dict pair
  merging (GPT-2 style, VERDICT r10 next #3): per-word cost is
  O(|word|^2), independent of the merge-table size, with equivalence
  to the priority-order pass guaranteed by a structural invariant
  validate_merges enforces and tests pin bit-for-bit.
- ``bpe_token_counts`` is an Arrow-batched ``mapInPandas`` kernel
  (never a row-at-a-time UDF): per executor it memoizes word →
  token-count in a dict, so the Zipf head of the vocabulary is
  encoded once per task, not once per occurrence.

The DuckDB oracle replays the SAME algorithm in SQL (northstar.py):
tokens render as ``(tok)(tok)...`` strings and each merge step is one
``replace('(a)(b)','(ab)')`` — SQL ``replace`` rewrites non-
overlapping occurrences left-to-right, exactly the BPE merge rule —
inside a recursive CTE over merge priority. Character-level identity
between the two engines is what q_bpe_token_count's hash attests.

Reference analog: none (BASELINE.json north-star LLM-data-pipeline
contract; the reference ETL has no tokenizer).
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Iterator

from pyspark.sql import DataFrame

_MERGES_FILE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "bpe_merges.json"
)

_TOKEN_RE = re.compile(r"[a-z0-9]+")


def validate_merges(merges: list[tuple[str, str]]) -> None:
    """Two invariants every committed/loaded merge table must hold:

    1. Token surfaces are [a-z0-9]+ (ADVICE r10 #4): the SQL oracle
       replay renders tokens inside '(...)' delimiters and interpolates
       them into VALUES literals UNQUOTED-UNSAFELY otherwise — a quote
       or paren in a surface would corrupt (or inject into) the oracle.
    2. No merge's operand equals a LATER merge's product (checked on
       surfaces). This is the precondition under which the rank-dict
       encoder below is EXACTLY the priority-order pass the SQL oracle
       replays: a later merge can then never create a fresh occurrence
       of an earlier pair, so 'apply merges in priority order, each
       exhaustively' and 'repeatedly merge the lowest-ranked pair
       present' produce identical segmentations for every input.
       tools/train_bpe.py asserts the same before writing the table.
    """
    for a, b in merges:
        if not (_TOKEN_RE.fullmatch(a) and _TOKEN_RE.fullmatch(b)):
            raise ValueError(f"merge operand not [a-z0-9]+: ({a!r}, {b!r})")
    later_products: set[str] = set()
    for a, b in reversed(merges):
        if a in later_products or b in later_products:
            raise ValueError(
                f"merge ({a!r}, {b!r}) has an operand produced by a LATER "
                "merge — rank-dict encoding would diverge from the "
                "priority-order SQL oracle replay"
            )
        later_products.add(a + b)


_MERGES_SF1_FILE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "bpe_merges_sf1.json"
)

_MERGES_SF10_FILE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "bpe_merges_sf10.json"
)

def _ensure_valid(merges: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """validate_merges at every boundary that accepts an EXPLICIT
    table (review r11): the docstring guarantees — unquoted-safe SQL
    rendering and rank-dict/priority-pass equivalence — must hold for
    hand-built tables too, not only load_merges'd ones. All call sites
    are once-per-plan-build driver code, so the O(|merges|) re-scan is
    never hot."""
    validate_merges(merges)
    return merges


_merges_cache: dict[str, list[tuple[str, str]]] = {}


def load_merges(path: str | None = None) -> list[tuple[str, str]]:
    """A committed, deterministic merge list in priority order,
    validated (see validate_merges) and cached per process. Default is
    the 48-merge sf0.001-trained table every existing query uses."""
    path = path or _MERGES_FILE
    hit = _merges_cache.get(path)
    if hit is None:
        with open(path) as f:
            doc = json.load(f)
        merges = [tuple(m) for m in doc["merges"]]
        validate_merges(merges)
        hit = _merges_cache[path] = merges
    return hit


def load_merges_sf1() -> list[tuple[str, str]]:
    """The sf1-trained table at the corpus's SATURATION bound (training
    stops when no pair occurs twice — the synthetic fixture vocabulary
    of 310 distinct [a-z0-9] words supports exactly 383 merges, so 'a
    few thousand' is physically impossible on this corpus; encoder
    cost at a real ~100k-merge table is pinned separately by
    tests/test_bpe.py::test_encoder_flat_cost_at_100k_merges)."""
    return load_merges(_MERGES_SF1_FILE)


def load_merges_sf10() -> list[tuple[str, str]]:
    """The sf10-trained table (VERDICT r11 next #4): make_sf1's
    per-replica word suffixing gives the sf10 corpus ~10x the distinct
    vocabulary (3,100 words), which trains ORGANICALLY to 3,263 merges
    before saturating — past the multi-thousand-merge bar the sf1
    corpus physically cannot reach. Trained by
      python tools/train_bpe.py \\
        '.tmp/sf10/documents.parquet/**/*.parquet' 8192 \\
        .../functions/bpe_merges_sf10.json
    (deterministic: lexicographic tie-break, so retraining on the same
    fixture reproduces the identical list)."""
    return load_merges(_MERGES_SF10_FILE)


def merge_ranks(merges: list[tuple[str, str]]) -> dict[tuple[str, str], int]:
    """pair → priority (lower merges first). Built ONCE per task and
    passed to encode_word — the whole point of the rank-dict encoder
    is that per-word cost never touches the table size. Duplicate
    pairs keep their first (highest-priority) rank, matching the
    priority-order pass where the second application is a no-op."""
    ranks: dict[tuple[str, str], int] = {}
    for i, pair in enumerate(merges):
        ranks.setdefault(pair, i)
    return ranks


def encode_word(
    word: str,
    merges: list[tuple[str, str]] | None = None,
    *,
    ranks: dict[tuple[str, str], int] | None = None,
) -> list[str]:
    """BPE segmentation of one word via rank-dict pair merging (GPT-2
    style, VERDICT r10 next #3): repeatedly look up the word's CURRENT
    adjacent pairs in the rank dict, merge every left-to-right
    non-overlapping occurrence of the best-ranked one, repeat until no
    pair is in the table. Per-word cost is O(|word|^2) and INDEPENDENT
    of the merge-table size — at a production ~100k-merge table the
    old priority-order pass paid O(|merges|*|word|) per distinct word.

    Output is identical to the priority-order pass (the semantics the
    SQL oracle replays) for every table satisfying validate_merges —
    pinned bit-for-bit against the reference implementation in
    tests/test_bpe.py. Lossless: ''.join(result) == word."""
    if ranks is None:
        ranks = merge_ranks(merges or [])
    toks = list(word)
    while len(toks) >= 2:
        best_rank = None
        best = None
        prev = toks[0]
        for cur in toks[1:]:
            r = ranks.get((prev, cur))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best = r, (prev, cur)
            prev = cur
        if best is None:
            break
        a, b = best
        out = []
        i = 0
        n = len(toks)
        while i < n:
            if i + 1 < n and toks[i] == a and toks[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(toks[i])
                i += 1
        toks = out
    return toks


def encode_word_priority_pass(
    word: str, merges: list[tuple[str, str]]
) -> list[str]:
    """REFERENCE implementation — the specification encode_word must
    match and the exact algorithm the DuckDB oracle replays (one SQL
    replace per merge, priority order, left-to-right): apply each
    merge in priority order, exhaustively, scanning left to right.
    O(|merges|*|word|) per word, so tests use it as the ground truth
    while production code uses the rank-dict path."""
    toks = list(word)
    for a, b in merges:
        if len(toks) < 2:
            break
        out = []
        i = 0
        n = len(toks)
        while i < n:
            if i + 1 < n and toks[i] == a and toks[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(toks[i])
                i += 1
        toks = out
    return toks


def bpe_token_counts(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    merges: list[tuple[str, str]] | None = None,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """(id, *passthrough, ws_tokens, bpe_tokens) per document —
    whitespace token count beside the tokenizer-exact count,
    Arrow-batched. The merge list rides in the task closure (a
    broadcast in cluster terms); the per-task word→count memo makes
    the cost proportional to DISTINCT words per task, not total
    tokens. ``passthrough`` carries string-typed grouping columns
    (e.g. ``source``) through the kernel so callers aggregate WITHOUT
    a join-back to the table — one scan, no extra shuffle (review
    r10)."""
    merge_list = load_merges() if merges is None else _ensure_valid(merges)

    def kernel(batches: Iterator) -> Iterator:
        import pandas as pd

        ranks = merge_ranks(merge_list)  # once per task, O(|merges|)
        memo: dict[str, int] = {}

        def count(word: str) -> int:
            hit = memo.get(word)
            if hit is None:
                hit = memo[word] = len(encode_word(word, ranks=ranks))
            return hit

        for pdf in batches:
            ws = []
            bpe = []
            for text in pdf[text_col].to_numpy():
                words = str(text).split(" ") if text is not None else []
                words = [w for w in words if w]
                ws.append(len(words))
                bpe.append(sum(count(w) for w in words))
            out = {id_col: pdf[id_col]}
            for col in passthrough:
                out[col] = pdf[col]
            out["ws_tokens"] = pd.Series(ws, dtype="int64")
            out["bpe_tokens"] = pd.Series(bpe, dtype="int64")
            yield pd.DataFrame(out)

    extra = "".join(f", {c} STRING" for c in passthrough)
    return docs.select(id_col, *passthrough, text_col).mapInPandas(
        kernel,
        f"{id_col} BIGINT{extra}, ws_tokens BIGINT, bpe_tokens BIGINT",
    )


def merges_sql_values(merges: list[tuple[str, str]] | None = None) -> str:
    """The merge list as a SQL VALUES body ``(pri, a, b), ...`` for
    the recursive-CTE oracle replay. Safe to interpolate unquoted:
    validate_merges (enforced by load_merges) pins every surface to
    [a-z0-9]+ (ADVICE r10 #4)."""
    return ", ".join(
        f"({i + 1}, '{a}', '{b}')"
        for i, (a, b) in enumerate(
            load_merges() if merges is None else _ensure_valid(merges)
        )
    )


VOCAB_BASE = "abcdefghijklmnopqrstuvwxyz0123456789"


def vocab(merges: list[tuple[str, str]] | None = None) -> dict[str, int]:
    """token surface → id: the 36 base characters (ids 0–35, fixed
    order — the corpus alphabet is [a-z0-9], asserted at training),
    then each merge's product in priority order. Two merges CAN
    produce the same surface (('a','bc') and ('ab','c') → 'abc'); the
    first occurrence keeps its id, matching the SQL VALUES rendering
    below, so both engines map surfaces identically."""
    v: dict[str, int] = {c: i for i, c in enumerate(VOCAB_BASE)}
    for a, b in load_merges() if merges is None else _ensure_valid(merges):
        tok = a + b
        if tok not in v:
            v[tok] = len(v)
    return v


def vocab_sql_values(merges: list[tuple[str, str]] | None = None) -> str:
    """The vocab as a SQL VALUES body ``(token, token_id), ...``."""
    return ", ".join(f"('{t}', {i})" for t, i in vocab(merges).items())


def bpe_encode_ids(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    merges: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """(id, word_pos, tok_pos, token_id) — the actual token-id stream
    a training run would consume, one row per BPE token (positions
    1-based to match SQL generate_subscripts). Same Arrow/memo pattern
    as bpe_token_counts; the memo caches each word's ID LIST. Callers
    sample docs BEFORE this kernel (the sample predicate pushes to the
    scan); the kernel itself is a pure per-row flatMap."""
    merge_list = load_merges() if merges is None else _ensure_valid(merges)
    voc = vocab(merge_list)

    def kernel(batches: Iterator) -> Iterator:
        import pandas as pd

        ranks = merge_ranks(merge_list)  # once per task, O(|merges|)
        memo: dict[str, list[int]] = {}

        def ids(word: str) -> list[int]:
            hit = memo.get(word)
            if hit is None:
                hit = memo[word] = [
                    voc.get(t, -1) for t in encode_word(word, ranks=ranks)
                ]
            return hit

        for pdf in batches:
            rows = []
            for did, text in zip(
                pdf[id_col].to_numpy(), pdf[text_col].to_numpy()
            ):
                words = str(text).split(" ") if text is not None else []
                wpos = 0
                for w in words:
                    wpos += 1  # 1-based over ALL split positions
                    if not w:
                        continue
                    for tpos, tid in enumerate(ids(w), start=1):
                        rows.append((int(did), wpos, tpos, tid))
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=[id_col, "word_pos", "tok_pos", "token_id"],
                )

    return docs.select(id_col, text_col).mapInPandas(
        kernel,
        f"{id_col} BIGINT, word_pos BIGINT, tok_pos BIGINT, token_id BIGINT",
    )
