"""Seeded input generator for the enrich_api workload.

Writes the upload file the engine receives (a JSON array) and, next
to it, `expected.tsv`: one line per input row with the answer the
benchmark expects, computed here and never by the engine:

    id  response  inject  group  turn  prompt

`inject` is `ok`, `fatal` (the stub answers 401, the row must be
quarantined) or `transient` (the stub answers 503 on the first attempt
only). `group` and `turn` are the conversation key and the 1-based turn
the grouped fold must send for that row.
"""

import collections
import json
import os
import random

MODEL = "gpt-test"  # AiConfig.test()'s default model
TEMPLATE = "Write a {priority} brief on {topic} for {audience} (ref {id}): {notes}"
SYSTEM_PROMPT = "You are a concise assistant. Answer in one short paragraph."
COLUMNS = ["id", "conv", "topic", "audience", "priority", "notes"]

TOPICS = ["AI", "Python", "water cycle", "recursion", "supply chains", "tides",
          "photosynthesis", "compilers", "jazz history", "volcanoes", "budgeting",
          "graph theory", "climate", "databases", "the Roman roads", "sleep"]
AUDIENCES = ["Teachers", "Students", "Engineers", "Managers", "Kids", "Nurses"]
PRIORITIES = ["High", "Medium", "Low"]
WORDS = ("alpha beta gamma delta river stone cloud signal vector market garden "
         "orbit lantern quartz meadow harbor cipher ember falcon glacier").split()

# Rows, conversations, Zipf exponent of conversation sizes, and how many
# rows get each injected API failure.
SPEC = {"rows": 150, "convs": 20, "zipf": 0.8, "fatal": 1, "transient": 1}
NULL_SHARE = 0.03   # empty cell -> null -> "None" in the prompt
BLANK_SHARE = 0.02  # whitespace-only cell, kept as is


def _cell(rng, value):
    r = rng.random()
    if r < NULL_SHARE:
        return None
    if r < NULL_SHARE + BLANK_SHARE:
        return " "
    return value


def _conversation_sizes(n, convs, zipf):
    """One conversation label per row: 1% null keys, the rest Zipf-sized.

    Sizes and names are fixed for a workload; the seed only decides which
    rows belong to which conversation. So every seed has the same longest
    sequential fold and the same keys per shuffle partition.
    """
    nulls = n // 100
    weights = [1.0 / (k + 1) ** zipf for k in range(convs)]
    exact = [(n - nulls) * w / sum(weights) for w in weights]
    sizes = [int(x) for x in exact]
    by_remainder = sorted(range(convs), key=lambda k: sizes[k] - exact[k])
    for k in by_remainder[:n - nulls - sum(sizes)]:
        sizes[k] += 1
    labels = [None] * nulls
    for k, size in enumerate(sizes):
        labels += [f"c{k:05d}"] * size
    return labels


def _prompt(row):
    out = TEMPLATE
    for c in COLUMNS:
        out = out.replace("{" + c + "}", "None" if row[c] is None else row[c])
    return out


def generate(seed, out_dir):
    """Write the upload file and expected.tsv; return the input facts."""
    spec = SPEC
    rng = random.Random(f"enrich_api:{seed}")
    n = spec["rows"]
    convs = rng.sample(_conversation_sizes(n, spec["convs"], spec["zipf"]), n)

    rows = []
    for i in range(n):
        rows.append({
            "id": str(i),
            "conv": convs[i],
            "topic": rng.choice(TOPICS),
            "audience": _cell(rng, rng.choice(AUDIENCES)),
            "priority": _cell(rng, rng.choice(PRIORITIES)),
            "notes": _cell(rng, ", ".join(
                " ".join(rng.choices(WORDS, k=rng.randint(1, 5)))
                for _ in range(rng.randint(1, 4)))),
        })

    # Each transient failure costs one fixed 1 s retry backoff per mode, so
    # there is one, against about 300 API calls per iteration.
    # Transient failures go to rows of the largest conversation: their
    # backoff then always lands on the grouped fold's longest sequential
    # chain, so a run's cost does not hinge on where the seed put them.
    group_of = ["None" if r["conv"] is None else r["conv"] for r in rows]
    sizes = collections.Counter(group_of)
    largest = min(sizes, key=lambda g: (-sizes[g], g))
    transient = rng.sample([i for i in range(n) if group_of[i] == largest], spec["transient"])
    fatal = rng.sample([i for i in range(n) if i not in transient], spec["fatal"])
    inject = {i: "fatal" for i in fatal}
    inject.update({i: "transient" for i in transient})

    os.makedirs(out_dir, exist_ok=True)
    name = "enrich_api.json"
    path = os.path.join(out_dir, name)
    with open(path, "w", encoding="utf-8") as f:
        f.write("[\n")
        f.write(",\n".join(json.dumps(r) for r in rows))
        f.write("\n]\n")

    turns, prompt_lens = {}, []
    with open(os.path.join(out_dir, "expected.tsv"), "w", encoding="utf-8") as f:
        for i, r in enumerate(rows):
            group = "None" if r["conv"] is None else r["conv"]
            turns[group] = turns.get(group, 0) + 1
            prompt = _prompt(r)
            prompt_lens.append(len(prompt))
            response = f"[{MODEL}] " + prompt.upper()[:64]
            f.write("\t".join([r["id"], response, inject.get(i, "ok"), group,
                               str(turns[group]), prompt]) + "\n")

    cells = [r[c] for r in rows for c in COLUMNS]
    return {
        "file": name,
        "rows": n,
        "bytes": os.path.getsize(path),
        "conversations": len(turns),
        "largest_conversation_share": round(max(turns.values()) / n, 4),
        "prompt_chars_min": min(prompt_lens),
        "prompt_chars_max": max(prompt_lens),
        "null_cell_share": round(sum(v is None for v in cells) / len(cells), 4),
        "blank_cell_share": round(sum(v == " " for v in cells) / len(cells), 4),
        "fatal_rows": spec["fatal"],
        "transient_rows": spec["transient"],
    }
