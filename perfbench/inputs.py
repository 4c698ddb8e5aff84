"""Seeded input generators. Pure NumPy/pandas, no Spark: the same seed
and sizes give byte-identical inputs (``digest`` pins this in the
tests). The package only ever sees what these functions return, staged
as parquet files by the workloads."""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np
import pandas as pd

DAY_S = 86_400
# fixed calendar origin: inputs must not depend on the wall clock
EPOCH0_S = 1_704_067_200  # 2024-01-01T00:00:00Z
EVENT_TYPES = ("click", "view", "purchase", "signup", "share", "search")
CHANNELS = ("xrsa", "xrsb", "euvs", "mag")


def digest(obj) -> str:
    """sha256 over the exact bytes of a frame or array (or a list of
    them), used to show that a seed reproduces its inputs."""
    h = hashlib.sha256()
    for part in obj if isinstance(obj, (list, tuple)) else [obj]:
        if isinstance(part, pd.DataFrame):
            for col in part.columns:
                h.update(col.encode())
                # strings and tz-aware timestamps come out as object
                # arrays, whose raw bytes are pointers: hash their reprs
                v = part[col].to_numpy()
                if v.dtype == object:
                    for x in v:
                        h.update(repr(x).encode())
                else:
                    h.update(np.ascontiguousarray(v).tobytes())
        else:
            h.update(np.ascontiguousarray(part).tobytes())
    return h.hexdigest()


# --- rollup_dashboard ------------------------------------------------------


@dataclass(frozen=True)
class RollupSizes:
    history_days: int = 7
    history_events: int = 10_000
    history_goes: int = 5_000
    epoch_events: int = 10_000
    epoch_goes: int = 5_000
    late_share: float = 0.15  # events of an epoch that land on older days
    late_days: int = 6
    users: int = 3_000


def _day_times(rng, n: int, day: int, late_share: float, late_days: int) -> np.ndarray:
    """Posix seconds for ``n`` records of epoch day ``day``; a
    ``late_share`` of them land on one of the ``late_days`` days before."""
    days = np.full(n, day, dtype=np.int64)
    late = rng.random(n) < late_share
    days[late] -= rng.integers(1, late_days + 1, size=int(late.sum()))
    days = np.maximum(days, 0)
    return EPOCH0_S + days * DAY_S + rng.integers(0, DAY_S, size=n)


def events(rng, n: int, secs: np.ndarray, users: int) -> pd.DataFrame:
    """Raw dashboard events (the rollup's input). ``value`` is a whole
    number of micro-units, so the exact day totals are integers."""
    return pd.DataFrame(
        {
            "ts": pd.to_datetime(secs, unit="s", utc=True).astype("datetime64[us, UTC]"),
            "event_type": np.array(EVENT_TYPES, dtype=object)[
                rng.integers(0, len(EVENT_TYPES), size=n)
            ],
            "user_id": rng.integers(0, users, size=n, dtype=np.int64),
            "value": rng.integers(1, 50_000_000, size=n, dtype=np.int64) / 1e6,
        }
    )


def goes_records(rng, n: int, secs: np.ndarray) -> pd.DataFrame:
    """GOES-shaped source records (``schemas.GOES_SATELLITE`` fields,
    posix-seconds ``time``)."""
    irr = rng.lognormal(-14.0, 1.0, size=(n, 5))
    return pd.DataFrame(
        {
            "time": secs.astype(np.int64),
            "product_time": pd.to_datetime(secs, unit="s").strftime("%Y-%m-%dT%H:%M:%S"),
            "solar_array_current_channel_index_label": np.array(CHANNELS, dtype=object)[
                rng.integers(0, len(CHANNELS), size=n)
            ],
            "source_file": [f"OR_XRSF-L2_G16_{d}.nc" for d in secs // DAY_S],
            "irradiance_xrsa1": irr[:, 0],
            "irradiance_xrsa2": irr[:, 1],
            "irradiance_xrsb1": irr[:, 2],
            "irradiance_xrsb2": irr[:, 3],
            "primary_xrsb": irr[:, 4],
            "dispersion_angle": rng.normal(0.0, 1.0, size=n),
            "integration_time": rng.uniform(0.5, 3.0, size=n),
            "extraction_timestamp": secs.astype(np.int64) + 60,
            "file_size_mb": rng.uniform(0.1, 5.0, size=n),
        }
    )


def rollup_history(seed: int, z: RollupSizes) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(events, goes) spread over the history days before epoch 0."""
    rng = np.random.default_rng([seed, 1])
    ev_s = EPOCH0_S + rng.integers(0, z.history_days * DAY_S, size=z.history_events)
    go_s = EPOCH0_S + rng.integers(0, z.history_days * DAY_S, size=z.history_goes)
    return events(rng, z.history_events, ev_s, z.users), goes_records(rng, z.history_goes, go_s)


def rollup_epoch(seed: int, z: RollupSizes, epoch: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(events, goes) of one ingest epoch; epoch ``e`` is day
    ``history_days + e``."""
    rng = np.random.default_rng([seed, 2, epoch])
    day = z.history_days + epoch
    ev_s = _day_times(rng, z.epoch_events, day, z.late_share, z.late_days)
    go_s = _day_times(rng, z.epoch_goes, day, z.late_share, z.late_days)
    return events(rng, z.epoch_events, ev_s, z.users), goes_records(rng, z.epoch_goes, go_s)


# --- vector_serve ----------------------------------------------------------


@dataclass(frozen=True)
class VectorSizes:
    dim: int = 64
    n_sub: int = 8  # M
    k_pq: int = 256
    cells: int = 16
    corpus: int = 128
    append: int = 64
    probes: int = 4  # per search
    clusters: int = 32  # latent clusters the corpus is drawn from


def _centers(seed: int, z: VectorSizes) -> np.ndarray:
    return np.random.default_rng([seed, 10]).normal(0.0, 1.0, size=(z.clusters, z.dim))


def _draw(rng, centers: np.ndarray, n: int) -> np.ndarray:
    pick = rng.integers(0, len(centers), size=n)
    return np.round(centers[pick] + rng.normal(0.0, 0.35, size=(n, centers.shape[1])), 6)


def vector_corpus(seed: int, z: VectorSizes) -> np.ndarray:
    return _draw(np.random.default_rng([seed, 11]), _centers(seed, z), z.corpus)


def vector_append(seed: int, z: VectorSizes, i: int) -> np.ndarray:
    return _draw(np.random.default_rng([seed, 12, i]), _centers(seed, z), z.append)


def vector_probes(seed: int, z: VectorSizes, i: int) -> np.ndarray:
    return _draw(np.random.default_rng([seed, 13, i]), _centers(seed, z), z.probes)


def vector_codebooks(seed: int, z: VectorSizes, corpus: np.ndarray):
    """Coarse centroids (cells × dim), sampled from corpus rows, and PQ
    sub-codebooks (M × K_PQ × sub_dim), the sub-vectors of K_PQ vectors
    drawn like the corpus: no k-means, so no training in the run, and
    the corpus may hold fewer than K_PQ vectors."""
    rng = np.random.default_rng([seed, 14])
    coarse = corpus[rng.choice(len(corpus), size=z.cells, replace=False)]
    sub = z.dim // z.n_sub
    pq = np.stack(
        [_draw(rng, _centers(seed, z), z.k_pq)[:, m * sub:(m + 1) * sub] for m in range(z.n_sub)]
    )
    return coarse, pq


def ivfpq_topk(
    vecs: np.ndarray, ids: np.ndarray, coarse: np.ndarray, pq: np.ndarray,
    probes: np.ndarray, nprobe: int, k: int,
) -> list[list[tuple[int, float]]]:
    """Reference IVF-PQ search (NumPy) with the package's semantics:
    raw-vector codes, ADC distance rounded to 4 places, ties by id.
    Returns per probe the top-k ``(id, adc)`` pairs."""
    n_sub, _, sub = pq.shape
    cell = ((vecs[:, None, :] - coarse[None]) ** 2).sum(-1).argmin(1)
    codes = np.stack(
        [((vecs[:, None, m * sub:(m + 1) * sub] - pq[m][None]) ** 2).sum(-1).argmin(1)
         for m in range(n_sub)],
        axis=1,
    )
    out = []
    for q in probes:
        cells = np.argsort(((coarse - q) ** 2).sum(-1), kind="stable")[:nprobe]
        cand = np.flatnonzero(np.isin(cell, cells))
        d = np.zeros(len(cand))
        for m in range(n_sub):
            tab = ((pq[m] - q[m * sub:(m + 1) * sub]) ** 2).sum(-1)
            d += tab[codes[cand, m]]
        d = np.round(d, 4)
        order = np.lexsort((ids[cand], d))[:k]
        out.append([(int(ids[cand][j]), float(d[j])) for j in order])
    return out


# --- epoch-store probe (traced rollup_dashboard runs) ---------------------


@dataclass(frozen=True)
class CurationSizes:
    shard_docs: int = 400
    words_lo: int = 40
    words_hi: int = 80
    vocab: int = 6_000
    exact_share: float = 0.10  # planted exact copies of earlier docs
    near_share: float = 0.05  # planted near copies (a few words swapped)


def _vocab(seed: int, z: CurationSizes) -> np.ndarray:
    rng = np.random.default_rng([seed, 20])
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 9, size=z.vocab)
    words = {"".join(rng.choice(letters, size=n)) for n in lens}
    return np.array(sorted(words), dtype=object)


class CrawlShards:
    """Seeded crawl shards with planted duplicates. Doc ids rise across
    shards (the epoch stores' monotone-ingest contract). ``kind`` marks
    each doc ``unique``, ``exact`` (verbatim copy of an earlier unique
    doc) or ``near`` (copy with a few words replaced); ``source`` is the
    copied doc's id."""

    def __init__(self, seed: int, z: CurationSizes):
        self.seed, self.z = seed, z
        self.vocab = _vocab(seed, z)
        self.next_id = 1_000
        self.uniques: list[tuple[int, str]] = []

    def shard(self, i: int) -> pd.DataFrame:
        z = self.z
        rng = np.random.default_rng([self.seed, 21, i])
        rows = []
        for _ in range(z.shard_docs):
            doc_id = self.next_id
            self.next_id += 1
            r = rng.random()
            if self.uniques and r < z.exact_share:
                src, text = self.uniques[rng.integers(0, len(self.uniques))]
                rows.append((doc_id, text, "exact", src))
            elif self.uniques and r < z.exact_share + z.near_share:
                src, text = self.uniques[rng.integers(0, len(self.uniques))]
                words = text.split(" ")
                for j in rng.choice(len(words), size=2, replace=False):
                    words[j] = self.vocab[rng.integers(0, len(self.vocab))]
                rows.append((doc_id, " ".join(words), "near", src))
            else:
                n = int(rng.integers(z.words_lo, z.words_hi + 1))
                text = " ".join(self.vocab[rng.integers(0, len(self.vocab), size=n)])
                self.uniques.append((doc_id, text))
                rows.append((doc_id, text, "unique", -1))
        return pd.DataFrame(rows, columns=["doc_id", "text", "kind", "source"])
