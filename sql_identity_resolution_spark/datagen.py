"""Deterministic synthetic transcripts generator (seed-stable).

Models the reference's benchmark generator semantics
(``tools/scale_test/data_generator.py``: ground-truth clusters with a fixed
size distribution, per-identifier match-signal rates, ~15% chain patterns,
seed=42 default) re-targeted to conversation transcripts per BASELINE.json:
conversations in the same truth cluster share blocking signals —

- exact duplicates (same turn texts ⇒ SIG_FULL_TEXT match),
- near-duplicate paraphrases (high token-Jaccard ⇒ LSH_TEXT + score),
- shared opening + role/tool structure (⇒ SIG_ROLE_TOOL composite match),

with chain patterns (A~B on one signal, B~C on another) for transitivity.
Output is a plain pandas frame / parquet in the input_hint schema
``(conv_id, turn_idx, role, text, tool, ts)`` plus a truth table
``(conv_id, truth_cluster_id)`` and labeled pairs for the F1 gate.
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from datetime import datetime, timedelta

import numpy as np
import pandas as pd

# reference cluster-size distribution (docs/performance/benchmark-results.md:205-218)
SIZE_DIST = [
    ((1, 1), 0.35),
    ((2, 2), 0.25),
    ((3, 5), 0.20),
    ((6, 15), 0.12),
    ((16, 50), 0.05),
    ((51, 200), 0.02),
    ((201, 1000), 0.01),
]

_TOPICS = [
    "reset my password for the billing portal",
    "deploy the model to the staging cluster",
    "why does the spark job shuffle so much data",
    "book a flight from london to tokyo next week",
    "summarize the quarterly revenue report",
    "debug the null pointer in the checkout service",
    "write a poem about distributed systems",
    "migrate the database from postgres to iceberg",
    "explain the difference between left and anti joins",
    "optimize the parquet layout for point lookups",
    "set up alerts for the failed pipeline runs",
    "translate this document into french please",
]
_TOOLS = ["search", "python", "sql", "browser", "", "calculator"]
# long-tail vocabulary: real conversations share topic words but diverge in the
# tail; without this, any two same-topic conversations are textual near-dups.
_POOL = [f"{a}{b}" for a in ("serv", "clust", "tabl", "quer", "stag", "metr", "node", "shard", "repl", "cach")
         for b in ("er01", "ing", "eset", "flow", "node", "view", "spec", "alpha", "gamma", "delta")]
_POOL += [f"item{i:03d}" for i in range(400)]

_FILLER = (
    "sure let me look into that for you right away",
    "here is what i found after checking the relevant sources",
    "that makes sense could you also check the other case",
    "the result shows the expected values in all partitions",
    "thanks that resolved the issue completely",
    "one more thing before we finish this task",
    "i ran the command and attached the output below",
    "the metrics look healthy after the latest change",
)


@dataclass
class GenResult:
    turns: pd.DataFrame  # conv_id, turn_idx, role, text, tool, ts
    truth: pd.DataFrame  # conv_id, truth_cluster_id
    labeled_pairs: pd.DataFrame  # left_conv_id, right_conv_id, is_match


def _sample_size(rng: random.Random) -> int:
    x = rng.random()
    acc = 0.0
    for (lo, hi), p in SIZE_DIST:
        acc += p
        if x <= acc:
            return rng.randint(lo, hi)
    return 1


def _paraphrase(rng: random.Random, words: list[str], rate: float = 0.12) -> list[str]:
    """Drop/replace ~rate of words — keeps token-Jaccard ≳ 0.75."""
    out = []
    for w in words:
        r = rng.random()
        if r < rate / 2:
            continue  # drop
        if r < rate:
            out.append(w + "x")  # perturb
        else:
            out.append(w)
    return out or words[:1]


def generate_transcripts(
    n_conversations: int = 1000,
    seed: int = 42,
    start_ts: datetime | None = None,
    pair_sample_per_cluster: int = 6,
    negative_pairs: int | None = None,
) -> GenResult:
    rng = random.Random(seed)
    np_rng = np.random.RandomState(seed)
    start_ts = start_ts or datetime(2026, 1, 1)

    rows = []
    truth_rows = []
    cluster_id = 0
    conv_seq = 0
    clusters: list[list[str]] = []

    while conv_seq < n_conversations:
        size = min(_sample_size(rng), n_conversations - conv_seq)
        cluster_id += 1
        tcid = f"tc{cluster_id:07d}"
        members: list[str] = []

        # the cluster's canonical conversation
        topic = rng.choice(_TOPICS)
        ticket = rng.randint(0, 99_999)  # cluster-stable tag: keeps openings discriminative
        # per-cluster entropy vocabulary: real conversations about the same topic
        # still differ in entities/ids/phrasing — without this, same-topic texts
        # from DIFFERENT clusters would be near-dups and no threshold could
        # separate them (precision collapse observed at threshold 0.55)
        vocab = [f"{rng.randrange(16**6):06x}" for _ in range(6)]
        n_turns = rng.randint(2, 8)
        base_turns = []
        for t in range(n_turns):
            role = "user" if t % 2 == 0 else "assistant"
            tool = rng.choice(_TOOLS) if role == "assistant" else ""
            ent = " ".join(rng.sample(vocab, 3))
            tail = " ".join(rng.sample(_POOL, 8))
            body = (
                f"{topic} {rng.choice(_FILLER)} step {t} ref {ticket} {ent} {tail}"
                if t
                else f"hello i need help with {topic} ticket {ticket} {ent} {tail}"
            )
            base_turns.append((role, body, tool))

        chain_mode = size >= 3 and rng.random() < 0.15  # reference chain rate 15%
        prev_variant = None
        for k in range(size):
            conv_seq += 1
            conv_id = f"c{conv_seq:08d}"
            members.append(conv_id)
            truth_rows.append((conv_id, tcid))
            ts0 = start_ts + timedelta(minutes=int(np_rng.randint(0, 500000)))

            if k == 0:
                turns = base_turns
            else:
                signal = rng.random()
                src = prev_variant if (chain_mode and prev_variant) else base_turns
                if signal < 0.30:
                    turns = src  # exact duplicate ⇒ SIG_FULL_TEXT
                elif signal < 0.75:
                    # paraphrase EVERY turn (incl. the opening) ⇒ the only link
                    # is MinHash/LSH + similarity score — exercises the fuzzy path
                    turns = [
                        (r, " ".join(_paraphrase(rng, b.split())), tl) for r, b, tl in src
                    ]
                else:
                    # same opening + role/tool structure, different tail ⇒ SIG_ROLE_TOOL
                    turns = [src[0]] + [
                        (r, f"{rng.choice(_FILLER)} variant {conv_seq} {i}", tl)
                        for i, (r, b, tl) in enumerate(src[1:])
                    ]
            prev_variant = turns
            for t, (role, body, tool) in enumerate(turns):
                rows.append(
                    (
                        conv_id,
                        t,
                        role,
                        body,
                        tool or None,
                        ts0 + timedelta(seconds=30 * t),
                    )
                )
        clusters.append(members)

    turns_df = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    turns_df["turn_idx"] = turns_df["turn_idx"].astype("int32")
    truth_df = pd.DataFrame(truth_rows, columns=["conv_id", "truth_cluster_id"])

    # labeled pairs: positives sampled within clusters, negatives across
    pos = []
    for members in clusters:
        if len(members) < 2:
            continue
        pairs = [(a, b) for i, a in enumerate(members) for b in members[i + 1 :]]
        rng.shuffle(pairs)
        pos.extend(pairs[:pair_sample_per_cluster])
    n_neg = negative_pairs if negative_pairs is not None else len(pos)
    all_convs = truth_df["conv_id"].tolist()
    t_by_c = dict(zip(truth_df["conv_id"], truth_df["truth_cluster_id"]))
    neg = []
    # half hard negatives: cluster representatives (same global topic pool, so
    # many share a topic — the adversarial case for LSH precision)
    reps = [m[0] for m in clusters]
    while len(neg) < n_neg // 2 and len(reps) > 1:
        a, b = rng.sample(reps, 2)
        if t_by_c[a] != t_by_c[b]:
            neg.append((min(a, b), max(a, b)))
    # a cross-cluster pair needs two truth clusters: with one (a small corpus
    # drawn as a single cluster) no sample could ever qualify
    while len(neg) < n_neg and len(clusters) > 1:
        a, b = rng.sample(all_convs, 2)
        if t_by_c[a] != t_by_c[b]:
            neg.append((min(a, b), max(a, b)))
    pairs_df = pd.DataFrame(
        [(a, b, True) for a, b in pos] + [(a, b, False) for a, b in neg],
        columns=["left_conv_id", "right_conv_id", "is_match"],
    )
    return GenResult(turns=turns_df, truth=truth_df, labeled_pairs=pairs_df)


def write_parquet(df: pd.DataFrame, path: str) -> str:
    """Parquet with microsecond timestamps (Spark can't read pandas' default
    TIMESTAMP(NANOS))."""
    df.to_parquet(path, index=False, coerce_timestamps="us", allow_truncated_timestamps=True)
    return path


def write_transcripts(result: GenResult, out_dir: str) -> dict[str, str]:
    import os

    os.makedirs(out_dir, exist_ok=True)
    paths = {
        "turns": f"{out_dir}/transcripts.parquet",
        "truth": f"{out_dir}/truth.parquet",
        "pairs": f"{out_dir}/labeled_pairs.parquet",
    }
    write_parquet(result.turns, paths["turns"])
    write_parquet(result.truth, paths["truth"])
    write_parquet(result.labeled_pairs, paths["pairs"])
    return paths
