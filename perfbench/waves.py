"""Seeded input waves for the ``incremental_refresh`` workload.

Two families land as parquet files, one file per wave:

- :class:`RuesWaves` — RUES registry rows (snake_case columns, raw
  strings) for the keep-latest upsert. Wave 0 is the standing registry;
  each later wave mixes renewals (a newer ``fecha_actualizacion`` day for
  a standing key), late rows (an older day than the key's live row, which
  must not win) and new matriculas. A key appears at most once per wave
  and its days never tie, so the expected snapshot is exact.
- :class:`DocWaves` — documents for the exact-dedup refresh. Wave 0 is
  the standing corpus; each later wave holds new texts plus copies of
  texts from EARLIER waves at ``DOC_DUP_SHARE``. No text repeats inside a
  wave, so every drop is a cross-wave duplicate.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import rues
from .tables import VOCAB

RENEWAL_SHARE = 0.5
LATE_SHARE = 0.2  # the rest of a wave are new matriculas
DOC_DUP_SHARE = 0.25
_EPOCH = dt.date(1970, 1, 1)


def _ts9(day: dt.date, rng: np.random.Generator) -> str:
    return rues._fmt_date("ts9", day, rng)


class RuesWaves:
    def __init__(self, seed: int, n_base: int, wave_rows: int) -> None:
        self._rng = np.random.default_rng([seed, 1])
        self._codes = [c for c, _ in rues.ciiu_catalog(self._rng)]
        self._wave_rows = wave_rows
        self._n_base = n_base
        self._next_company = 0
        self._latest: dict[tuple, dt.date] = {}
        self._rows: dict[tuple, dict] = {}

    def _new_rows(self, n: int) -> list[dict]:
        out = []
        for _ in range(n):
            row = rues._company(self._next_company, self._rng, self._codes)[0]
            self._next_company += 1
            day = rues._day(self._rng, 2023, 2024)
            row["fecha_actualizacion"] = _ts9(day, self._rng)
            out.append((row, day))
        return out

    def wave(self, k: int) -> list[dict]:
        """Rows of wave ``k``; call in order 0, 1, 2, ..."""
        if k == 0:
            landed = self._new_rows(self._n_base)
        else:
            rng = self._rng
            n_renew = int(self._wave_rows * RENEWAL_SHARE)
            n_late = int(self._wave_rows * LATE_SHARE)
            keys = list(self._rows)
            picked = rng.choice(len(keys), n_renew + n_late, replace=False)
            landed = []
            for j, idx in enumerate(picked):
                key = keys[int(idx)]
                shift = dt.timedelta(days=int(rng.integers(1, 60)))
                day = self._latest[key] + shift if j < n_renew else self._latest[key] - shift
                row = dict(self._rows[key])
                row["estado_matricula"] = rues.ESTADOS[int(rng.integers(0, 4))][0]
                row["fecha_actualizacion"] = _ts9(day, rng)
                landed.append((row, day))
            landed += self._new_rows(self._wave_rows - n_renew - n_late)
        for row, day in landed:
            key = (row["matricula"], row["nit"])
            if key not in self._latest or day > self._latest[key]:
                self._latest[key] = day
                self._rows[key] = row
        return [row for row, _ in landed]

    def land(self, k: int, landing_dir: str) -> str:
        rows = self.wave(k)
        table = pa.table({c: pa.array([r.get(c) for r in rows], pa.string()) for c in rues.COLUMNS})
        path = os.path.join(landing_dir, f"rues_{k:05d}.parquet")
        pq.write_table(table, path)
        return path

    def expected(self) -> tuple[int, int]:
        """(live keys, sum over keys of the live day as days since 1970)."""
        return len(self._latest), sum((d - _EPOCH).days for d in self._latest.values())


class DocWaves:
    def __init__(self, seed: int, n_base: int, wave_docs: int) -> None:
        self._rng = np.random.default_rng([seed, 2])
        self._n_base = n_base
        self._wave_docs = wave_docs
        self._next_id = 0
        self._texts: list[str] = []

    def wave(self, k: int) -> tuple[list[int], list[str], int]:
        """(doc ids, texts, planted cross-wave duplicates) of wave ``k``."""
        rng = self._rng
        n = self._n_base if k == 0 else self._wave_docs
        n_dup = 0 if k == 0 else int(n * DOC_DUP_SHARE)
        dups = [self._texts[int(i)] for i in rng.choice(len(self._texts), n_dup, replace=False)] if n_dup else []
        vocab = np.asarray(VOCAB, dtype=object)
        fresh = []
        for _ in range(n - n_dup):
            words = vocab[rng.integers(0, len(vocab), int(rng.integers(10, 60)))]
            fresh.append(f"{' '.join(words)} u{self._next_id + len(fresh)}")
        texts = dups + fresh
        order = rng.permutation(n)
        texts = [texts[int(i)] for i in order]
        ids = list(range(self._next_id, self._next_id + n))
        self._next_id += n
        self._texts += fresh
        return ids, texts, n_dup

    def land(self, k: int, landing_dir: str) -> tuple[str, int, int]:
        """Write wave ``k``; returns (path, docs, planted duplicates)."""
        ids, texts, n_dup = self.wave(k)
        path = os.path.join(landing_dir, f"docs_{k:05d}.parquet")
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts}), path)
        return path, len(ids), n_dup
