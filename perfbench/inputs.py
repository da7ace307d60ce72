"""Seeded benchmark inputs. The program sees only the generated data.

Transcripts reuse the repository's payload generator
(``fixtures.gen_turn_text``), which keys each turn's text on the conv_id it
is given. ``fixtures.transcripts_spark`` always passes ``conv_{i:06d}``, so
its ``seed`` only moves conversation lengths; here the seed is folded into
the conv_id handed to the generator, so a new seed gives new turn texts,
and the same seed gives byte-identical rows (checked by ``fingerprint``).
The conv_id column itself stays ``conv_{i:06d}``: bucket and salt
placement, and so where the whale's tasks land in the schedule, is the
same for every seed, and runs differ in content, not in hash luck.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import random
import zlib
from dataclasses import dataclass
from typing import List, Tuple

ROLES = ("user", "assistant", "tool")
BASE_TS = dt.datetime(2024, 1, 1)
TRANSCRIPT_SCHEMA = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"


def text_key(seed: int, conv_id: str) -> str:
    """The conv_id handed to ``gen_turn_text``: it keys the turn texts."""
    return f"{conv_id}:s{seed}"


def conv_length(seed: int, i: int, whale_every: int, whale_len: int) -> int:
    """Mostly 2-20 turns; every ``whale_every``-th conversation is a whale
    (the fixture generator's skew rule)."""
    if i % whale_every == whale_every - 1:
        return whale_len
    return random.Random(zlib.crc32(f"len:{seed}:{i}".encode())).randint(2, 20)


def transcripts(spark, seed: int, n_convs: int, rich: int, whale_every: int,
                whale_len: int, partitions: int):
    """Transcript DataFrame generated in parallel, one Arrow batch of
    conversations per task."""
    import pandas as pd
    from pyspark.sql import functions as F

    def gen(batches):
        from pdf_extraction_spark.fixtures import gen_turn_text

        for pdf in batches:
            rows = []
            for i in pdf["i"].tolist():
                cid = f"conv_{i:06d}"
                key = text_key(seed, cid)
                for t in range(conv_length(seed, i, whale_every, whale_len)):
                    role = ROLES[t % 3]
                    text, tool = gen_turn_text(key, t, role, rich)
                    ts = BASE_TS + dt.timedelta(seconds=i * 3600 + t * 17)
                    rows.append((cid, t, role, text, tool, ts))
            yield pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])

    ids = spark.range(n_convs).select(F.col("id").cast("int").alias("i")).repartition(partitions, "i")
    return ids.mapInPandas(gen, TRANSCRIPT_SCHEMA)


def fingerprint(df) -> str:
    """Order-insensitive digest of every column of every row: row count plus
    the XOR of per-row 64-bit hashes."""
    from pyspark.sql import functions as F

    n, x = df.agg(F.count("*"), F.bit_xor(F.xxhash64(*df.columns))).collect()[0]
    return f"{n}:{(x or 0) & 0xFFFFFFFFFFFFFFFF:016x}"


# ------------------------------------------------------------------ ingest

_WORDS = (
    "archive batch column commit corpus delta document engine filter frame "
    "gram index join ledger merge node offset parquet partition query record "
    "replica row scan schema segment shard shuffle snapshot sort spill stage "
    "store stream table task token update vector window worker"
).split()


@dataclass(frozen=True)
class IngestBatch:
    batch_id: str
    rows: List[Tuple[int, str]]  # (doc_id, text)


def ingest_batches(seed: int, n_batches: int, batch_docs: int,
                   dup_frac: float, resend_frac: float) -> List[IngestBatch]:
    """``n_batches`` batches of about ``batch_docs`` documents. Each batch
    holds novel documents, copies of some of its own documents
    (``dup_frac``) and documents re-sent from earlier batches
    (``resend_frac``). Texts are built from a shared phrase pool so that
    documents share long word runs (the gram index has real matches). The
    seed picks the phrases, the batch split and which documents repeat."""
    r = random.Random(seed)
    phrases = [" ".join(r.choice(_WORDS) for _ in range(r.randint(8, 16))) for _ in range(300)]
    next_id = 0
    earlier: List[str] = []
    out = []
    for b in range(n_batches):
        n_dup = int(batch_docs * dup_frac)
        n_resend = int(batch_docs * resend_frac) if earlier else 0
        novel = []
        for _ in range(batch_docs - n_dup - n_resend):
            parts = [r.choice(phrases) for _ in range(r.randint(3, 8))]
            parts.insert(r.randrange(len(parts) + 1), " ".join(r.choice(_WORDS) for _ in range(6)))
            novel.append(" ".join(parts))
        texts = novel + r.choices(novel, k=n_dup) + r.sample(earlier, min(n_resend, len(earlier)))
        r.shuffle(texts)
        rows = [(next_id + k, t) for k, t in enumerate(texts)]
        next_id += len(rows)
        earlier.extend(novel)
        out.append(IngestBatch(f"b{seed}_{b:03d}", rows))
    return out


def distinct_md5(batches: List[IngestBatch]) -> int:
    """Distinct md5(text) over every offered document: what exact-duplicate
    admission must admit in total."""
    return len({hashlib.md5(t.encode("utf-8")).hexdigest() for b in batches for _, t in b.rows})


def ingest_fingerprint(batches: List[IngestBatch]) -> str:
    h = hashlib.sha256()
    for b in batches:
        h.update(b.batch_id.encode())
        for doc_id, text in b.rows:
            h.update(f"{doc_id}\x00{text}\x01".encode("utf-8"))
    return f"{sum(len(b.rows) for b in batches)}:{h.hexdigest()[:16]}"
