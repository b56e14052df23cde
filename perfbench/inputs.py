"""Seeded input generators with their expected outputs.

Transcripts come from the package's own fixture generator
(``sources.transcripts.conv_plan`` + ``gen_conversation``): every turn is
generated together with the extraction it must produce, computed by
construction rather than by running the extractor.  Generation runs in
this process and writes the transcripts and their fixtures with pyarrow,
so the program sees only finished parquet files and the set-up spends no
Spark job on the benchmark's own bookkeeping.

The operator-surface tables (``documents``, ``embeddings``, ``events``) are
generated with numpy in the shapes measured from the repository's sf0.01
and sf0.1 tables, since the benchmark reads nothing outside its checkout.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SPAN = pa.struct([("start", pa.int32()), ("end", pa.int32()),
                  ("kind", pa.string()), ("block_idx", pa.int32())])

# ``expect`` is "ok" for a turn that must land in the sink with these
# values, or the quarantine reason for an injected bad row.
FIXTURE_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()),
    ("payload_kind", pa.string()), ("text_md", pa.string()),
    ("text_plain", pa.string()), ("spans", pa.list_(SPAN)),
    ("n_blocks", pa.int32()), ("n_chars", pa.int32()),
    ("expect", pa.string()), ("committed", pa.bool_()),
])

TRANSCRIPT_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),  # read by Spark as timestamp
])


def _is_bad(seed: int, conv_id: str, turn_idx: int, bad_per_mille: int) -> bool:
    key = f"{seed}:{conv_id}:{turn_idx}:bad".encode()
    return zlib.crc32(key) % 1000 < bad_per_mille


def plan_turns(target_turns: int, seed: int, committed_share: float = 0.0):
    """The shortest prefix of the package's conversation plan holding at
    least ``target_turns`` turns, as ``(conv_id, n_turns, committed)``.

    Sizing by turns rather than conversations keeps the work per run the
    same across seeds.  The first conversations, up to ``committed_share``
    of the turns, are flagged as committed by an earlier run.
    """
    from deepseek_ocr_rs_spark.sources.transcripts import conv_plan

    plan, total, n = [], 0, max(8, target_turns // 6)
    while total < target_turns:  # 2-20 turns per conversation, mean ~13
        plan, total = [], 0
        for conv_id, n_turns in conv_plan(n, seed):
            plan.append((conv_id, n_turns))
            total += n_turns
            if total >= target_turns:
                break
        n *= 2
    out, before = [], 0
    for conv_id, n_turns in plan:
        out.append((conv_id, n_turns, before < committed_share * total))
        before += n_turns
    return out


def stage_transcripts(out_dir: str, fixtures_dir: str, target_turns: int,
                      seed: int, partitions: int, bad_per_mille: int = 0,
                      committed_share: float = 0.0) -> dict:
    """Write the conversations of ``plan_turns`` to ``out_dir`` as
    ``partitions`` parquet files of consecutive conversations, and their
    fixtures to ``fixtures_dir``.

    ``bad_per_mille`` turns in a thousand become bad rows: a PDF turn is
    truncated mid-JSON (quarantined as malformed), any other turn loses
    its ``conv_id`` (quarantined as a null key).

    Returns counts by ``expect`` plus ``turns``.
    """
    from deepseek_ocr_rs_spark.sources.transcripts import gen_conversation

    plan = plan_turns(target_turns, seed, committed_share)
    for d in (out_dir, fixtures_dir):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    counts = {"turns": 0}
    for part, convs in enumerate(np.array_split(np.arange(len(plan)),
                                                partitions)):
        t_rows, f_rows = [], []
        for i in convs:
            conv_id, n_turns, committed = plan[i]
            turns, fixtures = gen_conversation(conv_id, n_turns, seed)
            for t, f in zip(turns, fixtures):
                f["expect"], f["committed"] = "ok", committed
                if bad_per_mille and _is_bad(seed, conv_id, t["turn_idx"],
                                             bad_per_mille):
                    if f["payload_kind"] == "pdf":
                        t["text"] = t["text"][: len(t["text"]) // 2]
                        f["expect"] = "malformed_payload"
                    else:
                        t["conv_id"] = f["conv_id"] = None
                        f["expect"] = "null_key"
                counts[f["expect"]] = counts.get(f["expect"], 0) + 1
                t_rows.append(t)
                f_rows.append(f)
        name = f"part-{part:05d}.parquet"
        pq.write_table(pa.Table.from_pylist(t_rows, TRANSCRIPT_SCHEMA),
                       os.path.join(out_dir, name))
        pq.write_table(pa.Table.from_pylist(f_rows, FIXTURE_SCHEMA),
                       os.path.join(fixtures_dir, name))
        counts["turns"] += len(t_rows)
    return counts


def kernel_sample(seed: int, per_kind: int):
    """``per_kind`` payloads of each kind (html, pdf, plain), in generation
    order, from the same generator the workloads use."""
    from deepseek_ocr_rs_spark.sources.transcripts import (
        conv_plan,
        gen_conversation,
    )

    sample = {"html": [], "pdf": [], "plain": []}
    n = 0
    while min(len(v) for v in sample.values()) < per_kind:
        n += 64
        for conv_id, n_turns in conv_plan(n, seed)[n - 64:]:
            turns, fixtures = gen_conversation(conv_id, n_turns, seed)
            for t, f in zip(turns, fixtures):
                bucket = sample[f["payload_kind"]]
                if len(bucket) < per_kind:
                    bucket.append(t["text"])
    return sample


# ------------------------------------------------------ operator-surface tables
#
# The shapes below were measured from the repository's sf0.01 and sf0.1
# tables (profile in NOTES.md); only the row counts differ between the two.

_WORDS = ("join hash row batch scan customer column filter small slow merge "
          "order vector line data table agg value key stream window spark a "
          "group part big sort query fast the").split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_EVENT_TYPES = ["view", "click", "error", "signup", "purchase"]
_DUP_SHARE = 0.05        # documents that copy another document + " dup"
_USERS_PER_EVENT = 0.015
_EVENT_WINDOW_US = 30 * 86_400 * 10**6   # 30 days from 2024-01-01


def write_operator_tables(sf_dir: str, seed: int, n_docs: int, n_vecs: int,
                          n_events: int) -> dict:
    """Write documents/embeddings/events parquet files into ``sf_dir``."""
    rng = np.random.default_rng(seed)
    shutil.rmtree(sf_dir, ignore_errors=True)
    os.makedirs(sf_dir)

    # documents: 10-99 words drawn uniformly from a 30-word vocabulary; a
    # twentieth of them are another document's text with " dup" appended
    base = [" ".join(rng.choice(_WORDS, int(rng.integers(10, 100))))
            for _ in range(n_docs)]
    texts = list(base)
    for i in rng.choice(n_docs, round(n_docs * _DUP_SHARE), replace=False):
        j = (int(i) + int(rng.integers(1, n_docs))) % n_docs  # any other doc
        texts[i] = base[j] + " dup"
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [str(x) for x in rng.choice(
            _LANGS, n_docs, p=[0.42, 0.145, 0.145, 0.145, 0.145])],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(sf_dir, "documents.parquet"))

    # embeddings: isotropic unit vectors in 64 dimensions, labels 0-9
    # drawn independently of the vectors
    vecs = rng.normal(size=(n_vecs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    }), os.path.join(sf_dir, "embeddings.parquet"))

    # events: uniform times over 30 days in event_id order, uniform users
    # (~67 events each) and types, exponential values with mean 50
    start = dt.datetime(2024, 1, 1)
    offsets = np.sort(rng.integers(0, _EVENT_WINDOW_US, n_events))
    n_users = max(1, round(n_events * _USERS_PER_EVENT))
    pq.write_table(pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array([start + dt.timedelta(microseconds=int(u))
                        for u in offsets], pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": [str(x) for x in rng.choice(_EVENT_TYPES, n_events)],
        "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
        "props": [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n_events)],
    }), os.path.join(sf_dir, "events.parquet"))
    return {"documents": n_docs, "embeddings": n_vecs, "events": n_events}
