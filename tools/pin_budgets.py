#!/usr/bin/env python3
"""Re-pin per-query bench budgets from fresh full boards.

Usage: python3 tools/pin_budgets.py board1.json board2.json [...] [-o out.json]

Every positional argument is an input board (must have a "queries"
map); the output path is given EXPLICITLY via -o/--out (default
bench_budgets.json). The old trailing-positional output form was
removed: inferring "last arg that does not parse as a board" silently
consumed a board-shaped out path as an input. Use >= 3 boards:
same-code board totals vary ~13% while the calibration probe moves ~2%,
so a two-board max leaves hair-width breaches on the third run.

Budget per query = max(1.5 x max(board1, board2) + 0.35 s,
max(board1, board2) + 1.0 s) -- the ratio absorbs proportional noise,
the 1 s absolute floor absorbs the scheduling jitter that dominates
sub-second queries (it swung q20_string_funcs 0.38 -> 1.60 s across
driver rounds on identical code). The boards must be full-registry min-of-2
runs written by graft.Bench (bench_board.json), each from a FRESH JVM
(`sbt "runMain graft.Bench"` alone in its session -- warm-state plans
grade greener than the driver's).

The md5/shingle scan family gets a wider margin (WIDE_FAMILY below:
2.5 x max + 0.6): round 12's driver ran exactly this family 4-6x slower
than its own round-11 board while everything else held at 0.96x -- the
family's cost tracks page-cache state of documents.parquet, which the
CPU-bound calibration probe cannot see, so its budgets must absorb what
normalization cannot.

"_calibration" = the MEAN of the two boards' calibration_sec: a
representative-load pin. Round 12 pinned the MIN (0.965 s, a cold-JVM
outlier against a 2.0-2.2 s steady state) which made every driver run
look 2.1x-loaded; the factor clamp then hid real headroom. At gate time
Bench re-measures the same fixed probe per segment and stretches each
budget by max(global, local-segment) clamped ratio.
"""
import json
import sys

# md5/shingle/dot-product scan family: cost dominated by full-text or
# full-embedding scans whose wall time tracks page-cache residency, not
# CPU load -- the round-12 driver outlier class. Keep in sync with the
# dedup/shingle queries in llm/Dedup.scala.
WIDE_FAMILY = {
    "dedup_canonical", "dedup_minhash_sig", "dedup_minhash_pairs",
    "dedup_minhash_ml", "dedup_tf_cosine", "dedup_simhash",
    "dedup_simhash_pairs", "dedup_ngram_jaccard", "dedup_containment",
    "dedup_prefix_filter", "q30_fingerprint_dedup", "q30b_shingle_stats",
    "q31_cosine_topk",
    # every md5/shingle/term-hash corpus scan runs inline in its own
    # query (no persisted memos), so the whole text/dedup/graph tail
    # tracks documents.parquet page-cache state per query (the round-12
    # outlier class) -- same wide margin as the original family.
    "dedup_clusters", "dedup_keep_best", "dedup_lsh_recall",
    "graph_modularity", "graph_pagerank", "graph_triangles",
    "graph_degree_dist", "graph_kcore", "graph_lpa_communities",
    "text_dup_coverage", "text_dedup_spans", "text_dup_span_merge",
    "text_winnow_fp", "text_boilerplate", "text_edit_distance",
    "decontaminate_ngram", "curate_verdict", "curate_funnel",
    "text_bm25", "retrieval_rrf", "retrieval_prf",
    "text_perplexity", "text_entropy", "text_classifier",
    "text_bigram_lm", "text_kneser_ney", "text_repetition",
    "curate_dsir_weights", "curate_signal_deciles",
    "text_unigram_segment", "unigram_em_round", "unigram_prune",
    "unigram_segment_sharded", "bpe_train", "bpe_train_tokens",
    "text_tfidf", "text_collocations", "text_zipf_fit", "text_quality",
}

if len(sys.argv) < 3:
    sys.exit(__doc__)


def load_board(p):
    try:
        b = json.load(open(p))
        return b if isinstance(b, dict) and "queries" in b else None
    except (OSError, ValueError):
        return None


args = sys.argv[1:]
out_path = "bench_budgets.json"
if "-o" in args or "--out" in args:
    i = args.index("-o") if "-o" in args else args.index("--out")
    if i + 1 >= len(args):
        sys.exit("-o/--out needs a path argument")
    out_path = args[i + 1]
    args = args[:i] + args[i + 2:]
boards = [(p, load_board(p)) for p in args]
bad = [p for p, b in boards if b is None]
if bad:
    sys.exit(f"not Bench boards (no 'queries' map): {bad}")
if len(boards) < 2:
    sys.exit("need at least two boards to pin from")
boards = [b for _, b in boards]

for i, b in enumerate(boards):
    if b.get("failed", 0):
        sys.exit(f"board{i + 1} records failed={b['failed']} - fix before pinning")

keys = sorted(set().union(*(b["queries"] for b in boards)))
# a renamed/removed family query silently falling back to the tight
# margin reproduces the round-12 false-red mode — fail loudly instead
ghosts = WIDE_FAMILY - set(keys)
if ghosts:
    sys.exit(f"WIDE_FAMILY entries not in either board (renamed query? "
             f"update the set): {sorted(ghosts)}")
doc = {}
cals = [b["calibration_sec"] for b in boards if b.get("calibration_sec", 0) > 0]
if cals:
    doc["_calibration"] = round(sum(cals) / len(cals), 3)
else:
    print("WARN: no board carries calibration_sec - gate will run "
          "un-normalized (factor 1.0)", file=sys.stderr)
for q in keys:
    ts = [b["queries"].get(q, 0.0) for b in boards]
    if min(ts) < 0:
        sys.exit(f"{q} has a failure marker in a board - fix before pinning")
    t = max(ts)
    if q in WIDE_FAMILY:
        # same absolute jitter floor as below: a family query in the
        # sub-second range still needs >= 1 s of absolute slack or
        # scheduler jitter reproduces the breach mode
        doc[q] = round(max(2.5 * t + 0.6, t + 1.0), 2)
    else:
        # absolute 1 s headroom floor: short queries' wall time is
        # dominated by scheduler jitter that scales with nothing the
        # ratio margin can see (q20_string_funcs swung 0.38 -> 1.60 s
        # across rounds on identical code) -- a sub-second pin needs
        # at least a full second of absolute slack
        doc[q] = round(max(1.5 * t + 0.35, t + 1.0), 2)

with open(out_path, "w") as f:
    json.dump(doc, f, indent=1)
    f.write("\n")
print(f"pinned {len(keys)} budgets"
      + (f" + _calibration={doc['_calibration']}" if cals else "")
      + f" -> {out_path}")
