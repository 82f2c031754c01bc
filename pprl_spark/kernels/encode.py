"""Record → Bloom-filter encoders (CLK / CLKRBF / RBF).

Parity: /root/reference/packages/pprl_service/pprl_service/routers/
mask.py:124-161 (salting, token naming, strategy dispatch), 203-235 (CLK),
238-289 (CLKRBF), 292-382 (RBF).  A record's bit vector is the bitwise-OR
fold of the k hash positions of every distinct q-gram of every configured
attribute — structurally a grouped aggregation keyed by record id, executed
here as one vectorized kernel per slab of rows, for every filter type, hash
strategy and hardener chain.

Per slab: tokenize, look up each salted token's digest in a per-worker memo
(web text is Zipf-distributed, so the same salt+token strings recur
constantly), compute the k positions of all tokens of an attribute with one
``bits.strategy_indices`` call, and scatter them into a ``(rows, m)`` bool
matrix.  RBF fills one such matrix per attribute; its bit sampling sequence
depends only on the config (seed, attribute sizes), so it is replayed once
at plan time and applied per slab as a gather — no per-record RNG in the hot
loop.  The hardener chain then runs once over the slab.
"""

from __future__ import annotations

import math
import random

import numpy as np

from ..config import MaskConfig
from . import bits as bitk
from .harden import build_hardener_chain
from .hashing import make_digest_fn
from .tokenize import tokenize_checked

__all__ = ["BloomEncoder"]

# rows per encode slab (see BloomEncoder.encode_batch)
SLAB = 1024


class BloomEncoder:
    """Plan once on the driver, encode Arrow batches on executors.

    ``attribute_names`` fixes which record fields are encoded (the reference
    encodes every attribute present on the entity; a DataFrame has a fixed
    schema, so the column list is explicit).
    """

    def __init__(self, cfg: MaskConfig, attribute_names: list[str]):
        self.cfg = cfg
        self.attribute_names = list(attribute_names)
        self._digest_fn = make_digest_fn(
            list(cfg.hash.function.algorithms), cfg.hash.function.key
        )
        self._strategy = cfg.hash.strategy

        ftype = cfg.filter.type
        if ftype == "clk":
            self.m = cfg.filter.filter_size
            self._k_of = {a: cfg.filter.hash_values for a in self.attribute_names}
        elif ftype == "clkrbf":
            # per-attribute k scaled by weight over the minimum weight
            # (routers/mask.py:247-264), filter sized for 50% fill.
            min_weight = min(a.weight for a in cfg.attributes)
            base_k = cfg.filter.hash_values
            self._k_of = {}
            total_insertions = 0.0
            for a in cfg.attributes:
                k_attr = int(math.ceil(base_k * a.weight / min_weight))
                self._k_of[a.attribute_name] = k_attr
                total_insertions += k_attr * a.average_token_count
            self.m = bitk.optimal_size(0.5, total_insertions)
            self.attribute_names = [a.attribute_name for a in cfg.attributes]
        elif ftype == "rbf":
            self._plan_rbf()
        else:
            raise ValueError(f"unimplemented filter type `{ftype}`")

        self._harden = build_hardener_chain(cfg.hardeners)
        # token → first 16 digest bytes, per worker (bounded)
        self._digest_memo: dict[str, bytes] = {}
        self._memo_cap = 1 << 20

    # ------------------------------------------------------------------
    # RBF planning (routers/mask.py:292-323 + the per-record sampling loop
    # 353-378, which depends only on the config and is replayed here once)
    # ------------------------------------------------------------------

    def _plan_rbf(self) -> None:
        cfg = self.cfg
        k = cfg.filter.hash_values
        attrs = list(cfg.attributes)
        total_weight = sum(a.weight for a in attrs)
        self._rbf_attr_size = {
            a.attribute_name: bitk.optimal_size(0.5, a.average_token_count * k)
            for a in attrs
        }
        self._rbf_sorted_names = sorted(a.attribute_name for a in attrs)
        by_name = {a.attribute_name: a for a in attrs}
        self.m = max(
            int(math.ceil(self._rbf_attr_size[a.attribute_name] * total_weight / a.weight))
            for a in attrs
        )
        self._k_of = {a.attribute_name: k for a in attrs}

        # replay the shared sampling stream once: for each sorted attribute,
        # which positions of its array are probed and where they land in the
        # parent vector.
        rng = random.Random(cfg.filter.seed)
        offset = 0
        self._rbf_sampling: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        for name in self._rbf_sorted_names:
            a = by_name[name]
            attr_size = self._rbf_attr_size[name]
            n_sampled = int(math.floor(a.weight / total_weight * self.m))
            probe = np.fromiter(
                (rng.randrange(attr_size) for _ in range(n_sampled)),
                dtype=np.int64,
                count=n_sampled,
            )
            parent_pos = (offset + probe) % self.m
            self._rbf_sampling[name] = (probe, parent_pos)
            offset += n_sampled

    # ------------------------------------------------------------------
    # encoding
    # ------------------------------------------------------------------

    def encode_batch(self, ids, columns: dict[str, list]) -> list[bytes]:
        """Encode a columnar batch → packed (MSB-first) byte strings.

        ``columns`` maps attribute name → sequence of string values; extra
        keys (e.g. salt-source attributes) are allowed.

        The batch is cut into slabs of ``SLAB`` rows so the ``(rows, m)``
        scatter target stays cache-resident: 1024 rows x 1024 bits = 1 MB of
        bool, measured +50% single-core throughput and 0.82-0.84
        multi-process scaling efficiency vs a 10k-row slab whose 10 MB
        scatter thrashes LLC under concurrency.
        """
        out: list[bytes] = []
        for s in range(0, len(ids), SLAB):
            slab = self._encode_slab(ids[s : s + SLAB], {k: v[s : s + SLAB] for k, v in columns.items()})
            out.extend(p.tobytes() for p in np.packbits(slab, axis=1))
        return out

    def _encode_slab(self, ids, columns: dict[str, list]) -> np.ndarray:
        """One slab → hardened ``(rows, m_out)`` bool matrix."""
        if self.cfg.filter.type != "rbf":
            return self._harden(self._scatter(ids, columns, self.attribute_names, self.m))
        # RBF: each attribute fills its own filter, then the planned probes
        # copy its sampled bits into the parent.  Only set bits are written
        # (not a buffered |=), so a parent position that several probes
        # share keeps every 1 written to it.
        parent = np.zeros((len(ids), self.m), dtype=bool)
        for name in self._rbf_sorted_names:
            attr = self._scatter(ids, columns, [name], self._rbf_attr_size[name])
            probe, parent_pos = self._rbf_sampling[name]
            r, c = np.nonzero(attr[:, probe])
            parent[r, parent_pos[c]] = True
        return self._harden(parent)

    def _scatter(self, ids, columns: dict[str, list], names: list[str], m: int) -> np.ndarray:
        """OR the k positions of every token of ``names`` into ``(rows, m)``."""
        cfg = self.cfg
        rows = len(ids)
        bits = np.zeros((rows, m), dtype=bool)
        for attr in names:
            values = columns[attr]
            salts = self._salts_for(attr, columns, rows)
            prefix = attr if cfg.prepend_attribute_name else ""
            tokens: list[str] = []
            counts: list[int] = []
            for i in range(rows):
                grams = tokenize_checked(ids[i], attr, values[i], cfg.token_size, cfg.padding)
                tokens.extend(f"{salts[i]}{prefix}{t}" for t in grams)
                counts.append(len(grams))
            h = self._hashes(tokens)
            idx = bitk.strategy_indices(self._strategy, self._k_of[attr], tuple(h.T), m)
            bits[np.repeat(np.arange(rows), counts)[:, None], idx] = True
        return bits

    def _hashes(self, tokens: list[str]) -> np.ndarray:
        """Tokens → ``(n, 4)`` int64 of the digest's four signed int32s
        (``destructure_digest``), through the per-worker digest memo:
        Zipf-distributed tokens hit it constantly; per-record salts miss,
        and then the loop is pure hashlib C calls."""
        digest_fn, memo = self._digest_fn, self._digest_memo
        digest16: list[bytes] = []
        for t in tokens:
            d = memo.get(t)
            if d is None:
                d = digest_fn(t.encode())[:16]
                if len(memo) >= self._memo_cap:
                    memo.clear()
                memo[t] = d
            digest16.append(d)
        return np.frombuffer(b"".join(digest16), dtype="<i4").reshape(-1, 4).astype(np.int64)

    def _salts_for(self, attr_name: str, columns: dict[str, list], rows: int) -> list[str]:
        """Literal or sibling-attribute salt (routers/mask.py:124-136)."""
        attr_cfg = self.cfg.attribute_config(attr_name)
        if attr_cfg is None or attr_cfg.salt is None:
            return [""] * rows
        if attr_cfg.salt.value is not None:
            return [attr_cfg.salt.value] * rows
        return list(columns[attr_cfg.salt.attribute])

    def encode_batch_b64(self, ids, columns: dict[str, list]) -> list[str]:
        import base64

        return [base64.b64encode(b).decode() for b in self.encode_batch(ids, columns)]
