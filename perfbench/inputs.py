"""Seeded inputs and the expected-state digest.

Everything the engine reads is generated here from ``--seed`` by
:class:`TraceGenerator`: a pgoutput-shaped WAL trace in the engine's
columnar form (``trace.generator.TRACE_SCHEMA``), written as parquet with
pyarrow. It has the shape of the engine's own ``trace.generator`` output
(one transaction per key with an INSERT, 0-2 UPDATEs of which some leave
``content`` as unchanged TOAST, a trailing DELETE for ~1/11 of keys, a
third of keys in one hot repo, a mid-trace schema evolution adding
``stars``, Origin/Type noise rows), but it costs well under a second
instead of a cold Spark job, and every random choice follows the seed.

Correctness is an order-independent digest of the final state: the row
count plus two 40-bit sums of the sha256 of each row's canonical text.
The expected side comes from the engine's sequential reference,
``wal_listener_spark.oracle.apply_trace``; the actual side is computed in
Spark over ``read_public()``.
"""

from __future__ import annotations

import hashlib
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ["en", "de", "fr", "es", "zh"]
KEY_COLS = ["repo", "path"]
#: Relation v1 columns of the generated ``repos`` table(s)
FIELDS = [
    ("repo", "string"),
    ("path", "string"),
    ("commit", "string"),
    ("lang", "string"),
    ("content", "string"),
]
TEXT_OID, INT4_OID = 25, 23
V1_COLUMNS = [(n, TEXT_OID, n in KEY_COLS) for n, _ in FIELDS]
V2_COLUMNS = V1_COLUMNS + [("stars", INT4_OID, False)]
DIGEST_NULL = "\\N"
DIGEST_SEP = "\x1f"
EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z

_MAP = pa.map_(pa.string(), pa.string())
#: pyarrow twin of ``trace.generator.TRACE_SCHEMA``
TRACE_ARROW = pa.schema(
    [
        ("lsn", pa.int64()),
        ("tx_id", pa.int64()),
        ("seq", pa.int32()),
        ("op", pa.string()),
        ("rel_id", pa.int32()),
        ("schema_name", pa.string()),
        ("table_name", pa.string()),
        (
            "rel_columns",
            pa.list_(
                pa.struct(
                    [
                        ("name", pa.string()),
                        ("type_oid", pa.int32()),
                        ("is_key", pa.bool_()),
                        ("typmod", pa.int32()),
                    ]
                )
            ),
        ),
        ("old_vals", _MAP),
        ("new_vals", _MAP),
        ("toast_cols", pa.list_(pa.string())),
        ("commit_ts", pa.timestamp("us", tz="UTC")),
        ("truncate_opts", pa.int32()),
    ]
)


class TraceGenerator:
    """A seeded WAL trace: control rows, then one transaction per key.

    ``n_relations`` > 1 spreads keys over that many same-schema
    relations (``repos_<i>``), the catalog shape; a single relation gets
    the schema evolution half way through its keys."""

    def __init__(self, seed: int, n_relations: int = 1):
        self.seed = seed
        self.rng = random.Random(f"trace:{seed}")
        self.n_relations = n_relations
        vocab = [
            "".join(self.rng.choice("abcdefghijklmnopqrstuvwxyz")
                    for _ in range(self.rng.randint(2, 9)))
            for _ in range(4000)
        ]
        # ~300-character document texts, shared by many keys like the
        # generator's amplified documents
        self.texts = [" ".join(self.rng.choice(vocab) for _ in range(50)) for _ in range(500)]
        self.lsn = 0
        self.tx = 0
        self.evolved = False

    # ------------------------------------------------------------ rows
    def _rel_id(self, i: int) -> int:
        return 1 if self.n_relations == 1 else 1000 + i % self.n_relations

    def _row(self, op: str, seq: int, rel_id=None, old=None, new=None, toast=None,
             tx: int | None = None, **extra) -> dict:
        self.lsn += 1
        row = {
            "lsn": self.lsn, "tx_id": self.tx if tx is None else tx, "seq": seq, "op": op,
            "rel_id": rel_id, "schema_name": None, "table_name": None, "rel_columns": None,
            "old_vals": old, "new_vals": new,
            "toast_cols": toast if op in ("I", "U", "D") else None,
            "commit_ts": EPOCH_US + self.tx * 1_000_000 if op in ("B", "C") else None,
            "truncate_opts": None,
        }
        row.update(extra)
        return row

    def _relation(self, i: int, columns) -> dict:
        name = "repos" if self.n_relations == 1 else f"repos_{i}"
        return self._row(
            "R", 0, rel_id=self._rel_id(i), tx=-1, schema_name="public", table_name=name,
            rel_columns=[
                {"name": n, "type_oid": oid, "is_key": key, "typmod": -1}
                for n, oid, key in columns
            ],
        )

    def _commit(self, *parts) -> str:
        return hashlib.sha256(":".join(map(str, (self.seed, *parts))).encode()).hexdigest()[:40]

    def _values(self, repo: str, path: str, lang: str, content: str | None, commit: str) -> dict:
        new = {"repo": repo, "path": path, "commit": commit, "lang": lang}
        if content is not None:
            new["content"] = content
        if self.evolved:
            new["stars"] = str(self.rng.randrange(50))
        return new

    # -------------------------------------------------------- the trace
    def backfill(self, n_keys: int, k_evo: int | None = None) -> list[list[dict]]:
        """Control rows, then one transaction per key; returned as a list
        of row groups that never split a transaction (slice boundaries).
        A single relation evolves before key ``k_evo`` (default: half way)."""
        rng = self.rng
        groups = [[self._relation(i, V1_COLUMNS) for i in range(self.n_relations)]
                  + [self._row("O", 0, tx=-1), self._row("Y", 0, tx=-1)]]
        if self.n_relations > 1:
            k_evo = None
        elif k_evo is None:
            k_evo = n_keys // 2
        for k in range(n_keys):
            group = []
            if k == k_evo:
                self.evolved = True
                group.append(self._relation(0, V2_COLUMNS))
            self.tx += 1
            rel = self._rel_id(k)
            lang = rng.choice(LANGS)
            repo = "org0/hot" if rng.random() < 1 / 3 else (
                f"org{rng.randrange(23)}/proj{rng.randrange(7)}")
            path = f"src/m{k // 100}/f{k}.{lang}"
            text = self.texts[rng.randrange(len(self.texts))]
            key = {"repo": repo, "path": path}
            group.append(self._row("B", -1))
            group.append(self._row("I", 0, rel, new=self._values(
                repo, path, lang, f"{text}#v0", self._commit(k, 0)), toast=[]))
            for v in range(1, 1 + rng.randrange(3)):
                toast = rng.random() < 0.2
                group.append(self._row("U", v, rel, old=key, new=self._values(
                    repo, path, lang, None if toast else f"{text}#v{v}", self._commit(k, v)),
                    toast=["content"] if toast else []))
            if rng.random() < 1 / 11:
                group.append(self._row("D", 9, rel, old=key, toast=[]))
            group.append(self._row("C", 999))
            groups.append(group)
        return groups


def to_table(rows: list[dict]) -> pa.Table:
    return pa.Table.from_pylist(rows, schema=TRACE_ARROW)


def write_rows(rows: list[dict], out_dir: str, n_files: int) -> None:
    """Write trace rows as ``n_files`` parquet files of consecutive rows."""
    os.makedirs(out_dir, exist_ok=True)
    tbl = to_table(rows)
    step = -(-tbl.num_rows // n_files)
    for i in range(n_files):
        part = tbl.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(out_dir, f"part-{i:05d}.parquet"))


def count_changes(rows: list[dict]) -> int:
    """Row changes (I/U/D) among trace rows: the compaction's input."""
    return sum(1 for r in rows if r["op"] in ("I", "U", "D"))


# ------------------------------------------------------------------ digest

def _row_text(row: dict, fields: list[str]) -> str:
    return DIGEST_SEP.join(
        DIGEST_NULL if row.get(f) is None else str(row[f]) for f in fields
    )


def expected_digest(rows: list[dict], fields: list[str]) -> tuple[int, int, int]:
    """Digest of the sequential oracle's final state over ``rows``."""
    from wal_listener_spark import oracle

    state = oracle.apply_trace(rows)
    s1 = s2 = 0
    for v in state.values():
        h = hashlib.sha256(_row_text(v, fields).encode()).hexdigest()
        s1 += int(h[:10], 16)
        s2 += int(h[10:20], 16)
    return len(state), s1, s2


def actual_digests(df, fields: list[str]) -> dict[int, tuple[int, int, int]]:
    """The same digest in Spark, one per value of ``df.__lake`` (one
    job for every lake of a run)."""
    from pyspark.sql import functions as F

    text = F.concat_ws(
        DIGEST_SEP,
        *[F.coalesce(F.col(f).cast("string"), F.lit(DIGEST_NULL)) for f in fields],
    )
    rows = (
        df.select("__lake", F.sha2(text, 256).alias("h"))
        .groupBy("__lake")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.conv(F.substring("h", 1, 10), 16, 10).cast("long")).alias("s1"),
            F.sum(F.conv(F.substring("h", 11, 10), 16, 10).cast("long")).alias("s2"),
        )
        .collect()
    )
    return {r["__lake"]: (r["n"], r["s1"] or 0, r["s2"] or 0) for r in rows}
