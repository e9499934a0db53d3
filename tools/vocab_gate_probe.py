"""Vocab-broadcast-gate probe (r6 verdict item 5).

The tokenize/OOV queries broadcast their vocab only while the corpus is
below the Heaps'-law threshold (``queries_vocab._VOCAB_BCAST_CORPUS_
BYTES``). The r6 driver bench showed +47-59% on exactly those queries
with no way to tell whether the gate fired in that environment. This
tool makes the decision observable: for each gated query it prints the
gate's recorded decision (corpus bytes vs threshold) AND the join
strategy Catalyst actually planned, so a silent probe failure →
sort-merge fallback is visible as `decision=broadcast plan=SortMerge`.

Usage: python tools/vocab_gate_probe.py [sf_dir]
Exit 1 if any gate decision disagrees with the planned join strategy.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# training_vocab_build is NOT listed: it builds the vocab and never
# runs the gated probe join — only the tokenize/OOV consumers route
# through _maybe_broadcast_vocab.
GATED = ["training_tokenize_docs", "training_oov_rate"]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from etl_his_spark.plans import queries_vocab
    from etl_his_spark.registry import ordered_queries
    from etl_his_spark.session import get_spark

    spark = get_spark("vocab-gate-probe")
    qs = ordered_queries()
    bad = 0
    for name in GATED:
        queries_vocab.LAST_GATE_DECISION.clear()
        df = qs[name](spark, sf_dir)
        decision = dict(queries_vocab.LAST_GATE_DECISION)
        plan = df._jdf.queryExecution().executedPlan().toString()
        planned = (
            "broadcast"
            if "BroadcastHashJoin" in plan
            else "shuffle" if ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan)
            else "none"
        )
        agree = decision.get("decision") == planned or planned == "none"
        bad += 0 if agree else 1
        print(
            f"{name}: gate={decision.get('decision')} "
            f"corpus_bytes={decision.get('corpus_bytes')} "
            f"threshold={decision.get('threshold_bytes')} "
            f"planned={planned} {'OK' if agree else 'MISMATCH'}"
        )
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
