"""Train the repo's deterministic BPE merge list (VERDICT r9 next #2)
and write it to batch_processing_etl_orchestration_spark/functions/
bpe_merges.json (committed — the encoder and every oracle replay read
the same constant).

Classic Sennrich-style training over the sf0.001 documents fixture:
words are whitespace tokens (the corpus alphabet is [a-z0-9 ],
asserted below), each word starts as a character sequence, and each
step merges the adjacent pair with the highest corpus frequency
(weighted by word frequency), tie-broken LEXICOGRAPHICALLY on the
pair — no hash order, no randomness, so retraining on the same
fixture reproduces the identical list. Training stops at N_MERGES or
when no pair occurs twice.

Run once; rerun only if the driver regenerates testdata with a new
word distribution (the committed JSON records the corpus it was
trained on).
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections import Counter

import duckdb

N_MERGES = 48
CORPUS = "/root/testdata/sf0.001/documents.parquet"
OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "batch_processing_etl_orchestration_spark", "functions",
    "bpe_merges.json",
)


def train(word_freq: dict[str, int], n_merges: int) -> list[tuple[str, str]]:
    words: dict[tuple[str, ...], int] = {
        tuple(w): f for w, f in word_freq.items()
    }
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for toks, f in words.items():
            for i in range(len(toks) - 1):
                pairs[(toks[i], toks[i + 1])] += f
        if not pairs:
            break
        # highest frequency, then lexicographically smallest pair —
        # a total order, so training is reproducible
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if pairs[best] < 2:
            break
        merges.append(best)
        merged = best[0] + best[1]
        nxt: dict[tuple[str, ...], int] = {}
        for toks, f in words.items():
            out = []
            i = 0
            while i < len(toks):
                if (
                    i + 1 < len(toks)
                    and toks[i] == best[0]
                    and toks[i + 1] == best[1]
                ):
                    out.append(merged)
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            nxt[tuple(out)] = nxt.get(tuple(out), 0) + f
        words = nxt
    return merges


def main() -> None:
    # argv: [corpus_glob] [n_merges] [out_json] — defaults reproduce
    # the original 48-merge sf0.001 table. The sf1 table is trained by
    #   python tools/train_bpe.py \
    #     '.tmp/sf1/documents.parquet/*.parquet' 4096 \
    #     .../functions/bpe_merges_sf1.json
    # and SATURATES at 383 merges: the synthetic fixture vocabulary
    # (310 distinct [a-z0-9] words) stops yielding pairs that occur
    # twice — the corpus's physical ceiling, so a few-THOUSAND-merge
    # table is impossible on this fixture. Encoder cost at a real
    # ~100k-merge table is pinned by tests/test_bpe.py::
    # test_encoder_flat_cost_at_100k_merges instead.
    corpus = sys.argv[1] if len(sys.argv) > 1 else CORPUS + "*"
    n_merges = int(sys.argv[2]) if len(sys.argv) > 2 else N_MERGES
    out = sys.argv[3] if len(sys.argv) > 3 else OUT
    con = duckdb.connect()
    rows = con.sql(
        f"""SELECT w, CAST(COUNT(*) AS BIGINT) FROM (
              SELECT unnest(string_split(text, ' ')) AS w
              FROM read_parquet('{corpus}')
            ) GROUP BY 1 ORDER BY 1"""
    ).fetchall()
    word_freq = {w: int(f) for w, f in rows if w}
    assert all(re.fullmatch(r"[a-z0-9]+", w) for w in word_freq), (
        "corpus words must be [a-z0-9]+ — the SQL oracle replay uses "
        "( ) as token delimiters"
    )
    merges = train(word_freq, n_merges)
    # Refuse to commit a table the rank-dict encoder can't serve
    # exactly (operand == later product ⇒ divergence from the SQL
    # oracle's priority-order replay) or whose surfaces would break
    # the oracle's VALUES rendering.
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from batch_processing_etl_orchestration_spark.functions.bpe import (
        encode_word,
        encode_word_priority_pass,
        merge_ranks,
        validate_merges,
    )

    validate_merges(merges)
    ranks = merge_ranks(merges)
    for w in word_freq:
        fast = encode_word(w, ranks=ranks)
        ref = encode_word_priority_pass(w, merges)
        assert fast == ref, (w, fast, ref)
    with open(out, "w") as f:
        json.dump(
            {
                "v": 1,
                "trained_on": corpus,
                "n_words": len(word_freq),
                "saturated": len(merges) < n_merges,
                "merges": [list(m) for m in merges],
            },
            f,
            indent=1,
        )
        f.write("\n")
    print(f"wrote {len(merges)} merges over {len(word_freq)} words to {out}"
          + (" (SATURATED)" if len(merges) < n_merges else ""))


if __name__ == "__main__":
    main()
