"""Hot-key skew fixtures for the r15 window rewrites (VERDICT r15 #1).

Builds document corpora where ONE key is deliberately hot, plus a
volume-matched control, so the count/min-over-window rewrites can be
measured under adversarial key skew rather than the near-uniform
synthetic text of /root/testdata:

  * ``hot``  — 30% of docs (doc_id % 10 < 3) get a fixed 8-word sentence
    prepended ``--repeats`` times: one globally hot 8-word segment
    (x_segment_dedup_scrub / x_boilerplate_scrub), 8 hot bigrams
    (x_lm_surprisal_score / x_ccnet_buckets), and hot 3/5-grams +
    winnow fingerprints for the distinct-per-doc family (those collapse
    the repeats via array_distinct, so their hot group is bounded by
    the number of CONTAINING DOCS — the structural cap the probe also
    demonstrates).
  * ``ctl``  — the SAME docs get the SAME number of prepended words,
    but every prepended sentence is unique per (doc, repeat): identical
    row counts and bytes, no hot key. hot/ctl wall-clock isolates skew.
  * ``dup``  — 30% of docs have their text REPLACED by one constant
    string (x_corpus_filter_pipeline's md5(text) window: one exact-dup
    cluster holding 30% of the corpus); control is per-doc-unique
    replacement text of the same length.

``--factor N`` replicates every doc N times (scaleup's " copyseqK"
suffix convention, new doc_ids at orig + k*(max+1)) so the hot group
grows with the corpus; in the ``dup`` variant hot docs are replicated
WITHOUT the suffix (exact duplicates are the point).

Only documents.parquet is rewritten; the other tables are symlinked so
load_table() resolves normally. Deterministic (no RNG): rerunning
overwrites in place.

Usage:
    python tools/make_hotkey_fixture.py --out /tmp/chyme_hot --variant hot
    python tools/make_hotkey_fixture.py --out /tmp/chyme_hot20 --variant hot --factor 20
"""

from __future__ import annotations

import argparse
import os

import pyarrow as pa
import pyarrow.parquet as pq

SRC_DEFAULT = "/root/testdata/sf0.1"
HOT_SENT = "hotseg alpha beta gamma delta epsilon zeta eta"  # 8 words
DUP_TEXT = (
    "duplicate corpus page body shared across many documents "
    "with identical bytes so the content hash collides exactly"
)
TABLES = (
    "customer", "embeddings", "events", "lineitem", "nation",
    "orders", "part", "region", "supplier",
)


def _unique_sent(doc_id: int, rep: int) -> str:
    # 8 words, unique per (doc, repeat): no cross-doc key collisions
    return (
        f"u{doc_id}r{rep}a u{doc_id}r{rep}b u{doc_id}r{rep}c u{doc_id}r{rep}d "
        f"u{doc_id}r{rep}e u{doc_id}r{rep}f u{doc_id}r{rep}g u{doc_id}r{rep}h"
    )


def build(src: str, out: str, variant: str, repeats: int, factor: int) -> None:
    os.makedirs(out, exist_ok=True)
    for t in TABLES:
        link = os.path.join(out, f"{t}.parquet")
        target = os.path.join(src, f"{t}.parquet")
        # a link left by an earlier --src (even a dangling one) is
        # re-pointed, not kept
        if os.path.islink(link) and os.readlink(link) != target:
            os.remove(link)
        if not os.path.lexists(link):
            os.symlink(target, link)

    tbl = pq.read_table(os.path.join(src, "documents.parquet"))
    rows = tbl.to_pylist()
    max_id = max(r["doc_id"] for r in rows) + 1

    out_rows = []
    for k in range(factor):
        for r in rows:
            doc_id = r["doc_id"] + k * max_id
            text = r["text"]
            is_hot = r["doc_id"] % 10 < 3
            if variant in ("hot", "ctl") and is_hot:
                if variant == "hot":
                    pre = " ".join([HOT_SENT] * repeats)
                else:
                    pre = " ".join(
                        _unique_sent(doc_id, i) for i in range(repeats)
                    )
                text = pre + " " + text
            elif variant in ("dup", "dupctl") and is_hot:
                text = DUP_TEXT if variant == "dup" else (
                    f"unique page body for document {doc_id} " + DUP_TEXT[40:]
                )
            if k > 0 and not (variant == "dup" and is_hot):
                # scaleup convention: per-copy suffix keeps non-hot
                # replicas distinct; dup-variant hot docs stay identical
                text = f"{text} copyseq{k}"
            out_rows.append(
                {
                    "doc_id": doc_id,
                    "text": text,
                    "lang": r["lang"],
                    "source": r["source"],
                    "n_chars": len(text),
                }
            )

    schema = pa.schema(
        [
            ("doc_id", pa.int64()),
            ("text", pa.string()),
            ("lang", pa.string()),
            ("source", pa.string()),
            ("n_chars", pa.int64()),
        ]
    )
    pq.write_table(pa.Table.from_pylist(out_rows, schema=schema),
                   os.path.join(out, "documents.parquet"))
    n_hot = sum(1 for r in out_rows if (r["doc_id"] % max_id) % 10 < 3)
    print(f"{out}: {len(out_rows)} docs ({n_hot} hot), variant={variant}, "
          f"repeats={repeats}, factor={factor}")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default=SRC_DEFAULT)
    ap.add_argument("--out", required=True)
    ap.add_argument("--variant", choices=("hot", "ctl", "dup", "dupctl"),
                    required=True)
    ap.add_argument("--repeats", type=int, default=32,
                    help="prepended sentence count per hot doc (hot/ctl)")
    ap.add_argument("--factor", type=int, default=1)
    args = ap.parse_args()
    build(args.src, args.out, args.variant, args.repeats, args.factor)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
