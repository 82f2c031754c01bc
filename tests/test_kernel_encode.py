"""Encoder bit-exactness tests.

The reference encoder cannot execute here (bitarray/pyphonetics are not
installed), so bit-exactness is established by implementation diversity: a
deliberately naive straight-line replay of the reference's per-token loops
(routers/mask.py:139-161, 203-235, 238-289, 292-382) written with plain
Python ints/lists — no numpy, no shared code with the production kernel —
must produce byte-identical vectors to the vectorized BloomEncoder across
the full config matrix (the reference's own E2E test strategy,
packages/pprl_service/tests/test_mask.py).
"""

import base64
import hashlib
import hmac as hmac_mod
import math
import random
import struct

import numpy as np
import pytest

from pprl_spark.config import (
    AttributeSalt,
    CLKFilter,
    CLKRBFFilter,
    HardenerConfig,
    HashConfig,
    HashFunctionConfig,
    MaskConfig,
    RBFFilter,
    StaticAttributeConfig,
    WeightedAttributeConfig,
)
from pprl_spark.kernels.encode import BloomEncoder

# deterministic persons fixture (FIXTURES.md F2)
NAMES_A = [
    "Anna", "Jürgen", "Zoë", "Liam", "Nora", "Sven", "Ines", "Omar", "Paula",
    "Quentin", "Rosa", "Stefan", "Tariq", "Ulrike", "Viktor", "Wanda", "Xenia",
    "Yusuf", "Zelda", "Aaron", "Beate", "Carlos", "Dagmar", "Emil", "Frida",
]
NAMES_B = [
    "Müller-Lüdenscheidt", "O'Brien", "Schmidt", "Nguyen", "García", "Kowalski",
    "Ivanov", "Silva", "Rossi", "Dubois", "Johansson", "Tanaka", "Okafor",
    "Petersen", "Novak", "Haddad", "Björk", "Castro", "Lindqvist", "Moreau",
    "Öztürk", "Weiß", "Keller", "Brandt", "Fontaine",
]


def make_persons(n=20):
    persons = []
    for i in range(n):
        persons.append(
            {
                "id": f"p{i:04d}",
                "firstName": NAMES_A[i % 25],
                "lastName": NAMES_B[(i * 7) % 25],
                "dateOfBirth": f"19{50 + i % 50:02d}-{1 + i % 12:02d}-{1 + i % 28:02d}",
                "gender": "m" if i % 2 else "f",
            }
        )
    return persons


# ----------------------------------------------------------------------
# naive reference replay (independent implementation)
# ----------------------------------------------------------------------

_HASHES = {"md5": hashlib.md5, "sha1": hashlib.sha1, "sha256": hashlib.sha256,
           "sha512": hashlib.sha512}


def naive_digest(algorithms, key, data: bytes) -> bytes:
    for alg in algorithms:
        if key is None:
            data = _HASHES[alg](data).digest()
        else:
            data = hmac_mod.digest(key.encode(), data, _HASHES[alg])
    return data


def naive_tokenize(value, q, padding):
    pad = padding * (q - 1)
    v = pad + value + pad
    return {v[i:i + q] for i in range(len(v) - q + 1)}


def naive_idx(i, m):
    if i < 0:
        i = ~i
    return i % m


def naive_populate(ba, value, cfg, k):
    d = naive_digest(cfg.hash.function.algorithms, cfg.hash.function.key, value.encode())
    i0, i1, i2, i3 = struct.unpack_from("<iiii", d)
    m = len(ba)
    s = cfg.hash.strategy
    if s == "double_hash":
        for i in range(1, k + 1):
            ba[naive_idx((i0 ^ i1) + i * (i2 ^ i3), m)] = 1
    elif s == "triple_hash":
        for i in range(1, k + 1):
            ba[naive_idx(i0 + i * i1 + (i2 ^ i3) * (i * (i - 1)) // 2, m)] = 1
    elif s == "enhanced_double_hash":
        for i in range(1, k + 1):
            ba[naive_idx((i0 ^ i1) + i * (i2 ^ i3) + (i ** 3 - i) // 6, m)] = 1
    elif s == "random_hash":
        rng = random.Random(i0 ^ i1 ^ i2 ^ i3)
        for _ in range(k):
            ba[rng.randrange(m)] = 1


def naive_salt(cfg, attr, record):
    ac = cfg.attribute_config(attr)
    if ac is None or ac.salt is None:
        return ""
    if ac.salt.value is not None:
        return ac.salt.value
    return record[ac.salt.attribute]


def naive_tokens_for(cfg, record, attr):
    tokens = naive_tokenize(record[attr], cfg.token_size, cfg.padding)
    salt = naive_salt(cfg, attr, record)
    if cfg.prepend_attribute_name:
        return [salt + attr + t for t in tokens]
    return [salt + t for t in tokens]


def naive_encode_clk(cfg, record, attrs):
    ba = [0] * cfg.filter.filter_size
    for attr in attrs:
        for t in naive_tokens_for(cfg, record, attr):
            naive_populate(ba, t, cfg, cfg.filter.hash_values)
    return ba


def naive_encode_clkrbf(cfg, record):
    min_w = min(a.weight for a in cfg.attributes)
    k_of, total = {}, 0.0
    for a in cfg.attributes:
        k_of[a.attribute_name] = int(math.ceil(cfg.filter.hash_values * a.weight / min_w))
        total += k_of[a.attribute_name] * a.average_token_count
    m = int(math.ceil(1 / (1 - math.pow(0.5, 1 / total))))
    ba = [0] * m
    for a in cfg.attributes:
        for t in naive_tokens_for(cfg, record, a.attribute_name):
            naive_populate(ba, t, cfg, k_of[a.attribute_name])
    return ba


def naive_encode_rbf(cfg, record):
    k = cfg.filter.hash_values
    total_w = sum(a.weight for a in cfg.attributes)
    sizes = {
        a.attribute_name: int(math.ceil(1 / (1 - math.pow(0.5, 1 / (a.average_token_count * k)))))
        for a in cfg.attributes
    }
    sorted_names = sorted(a.attribute_name for a in cfg.attributes)
    by_name = {a.attribute_name: a for a in cfg.attributes}
    parent_size = max(
        int(math.ceil(sizes[a.attribute_name] * total_w / a.weight)) for a in cfg.attributes
    )
    attr_bas = {}
    for name in sorted_names:
        ba = [0] * sizes[name]
        for t in naive_tokens_for(cfg, record, name):
            naive_populate(ba, t, cfg, k)
        attr_bas[name] = ba
    parent = [0] * parent_size
    rng = random.Random(cfg.filter.seed)
    offset = 0
    for name in sorted_names:
        a = by_name[name]
        n_bits = int(math.floor(a.weight / total_w * parent_size))
        ba = attr_bas[name]
        for _ in range(n_bits):
            idx = rng.randrange(len(ba))
            if ba[idx]:
                parent[naive_idx(offset + idx, parent_size)] = 1
        offset += n_bits
    return parent


def naive_harden(cfg, ba):
    for h in cfg.hardeners:
        if h.name == "balance":
            ba = ba + [1 - b for b in ba]
        elif h.name == "xor_fold":
            if len(ba) % 2:
                ba = ba + [0]
            half = len(ba) // 2
            ba = [ba[i] ^ ba[half + i] for i in range(half)]
        elif h.name == "permute":
            ba = list(ba)
            rng = random.Random(h.seed)
            for i in range(len(ba) - 1, 0, -1):
                j = rng.randrange(i)
                ba[i], ba[j] = ba[j], ba[i]
        elif h.name == "randomized_response":
            ba = list(ba)
            rng = random.Random(h.seed)
            for i in range(len(ba)):
                d = rng.random()
                if d > h.probability:
                    continue
                ba[i] = 1 if d < h.probability / 2 else 0
        elif h.name == "rule_90":
            n = len(ba)
            ba = [ba[(i - 1) % n] ^ ba[(i + 1) % n] for i in range(n)]
        elif h.name == "rehash":
            src = list(ba)  # windows read the input; writes go to the copy
            ba = list(ba)
            n = len(ba)
            for i in range(0, n - h.window_size + 1, h.window_step):
                window = src[i:i + h.window_size]
                nbytes = (len(window) + 7) // 8
                raw = bytearray(nbytes)
                for j, bit in enumerate(window):
                    if bit:
                        raw[j // 8] |= 0x80 >> (j % 8)
                seed = struct.unpack_from("<i", bytes(raw) + b"\x00" * 4)[0]
                rng = random.Random(seed)
                for _ in range(h.samples):
                    ba[rng.randrange(n)] = 1
    return ba


def naive_pack_b64(ba):
    nbytes = (len(ba) + 7) // 8
    raw = bytearray(nbytes)
    for i, bit in enumerate(ba):
        if bit:
            raw[i // 8] |= 0x80 >> (i % 8)
    return base64.b64encode(bytes(raw)).decode()


def naive_encode(cfg, record, attrs):
    if cfg.filter.type == "clk":
        ba = naive_encode_clk(cfg, record, attrs)
    elif cfg.filter.type == "clkrbf":
        ba = naive_encode_clkrbf(cfg, record)
    else:
        ba = naive_encode_rbf(cfg, record)
    return naive_pack_b64(naive_harden(cfg, ba))


# ----------------------------------------------------------------------
# config matrix (modeled on reference test_mask.py axes)
# ----------------------------------------------------------------------

ATTRS = ["firstName", "lastName", "dateOfBirth", "gender"]

WEIGHTED = (
    WeightedAttributeConfig("firstName", 4, 10),
    WeightedAttributeConfig("lastName", 4, 8),
    WeightedAttributeConfig("gender", 1, 2),
    WeightedAttributeConfig("dateOfBirth", 3, 10),
)


def cfg_variants():
    base_hash = HashConfig(HashFunctionConfig(("sha1",)), "double_hash")
    yield "clk-ref-test", MaskConfig(
        filter=CLKFilter(1024, 5), hash=base_hash, token_size=2, padding="_",
        prepend_attribute_name=False,
    )
    yield "clk-north-star-chain", MaskConfig(
        filter=CLKFilter(2048, 7),
        hash=HashConfig(HashFunctionConfig(("sha256", "md5")), "double_hash"),
        token_size=2, padding="_",
    )
    yield "clk-hmac", MaskConfig(
        filter=CLKFilter(512, 5),
        hash=HashConfig(HashFunctionConfig(("sha256",), key="s3cr3t"), "double_hash"),
        token_size=2, padding="_",
    )
    for strategy in ("triple_hash", "enhanced_double_hash", "random_hash"):
        yield f"clk-{strategy}", MaskConfig(
            filter=CLKFilter(768, 5),
            hash=HashConfig(HashFunctionConfig(("sha1",)), strategy),
            token_size=2, padding="_",
        )
    yield "clk-q3-prepend", MaskConfig(
        filter=CLKFilter(1024, 5), hash=base_hash, token_size=3, padding="#",
        prepend_attribute_name=True,
    )
    yield "clk-salted", MaskConfig(
        filter=CLKFilter(1024, 5), hash=base_hash, token_size=2, padding="_",
        attributes=(
            StaticAttributeConfig("firstName", AttributeSalt(value="pepper")),
            StaticAttributeConfig("lastName", AttributeSalt(attribute="gender")),
        ),
    )
    yield "clkrbf", MaskConfig(
        filter=CLKRBFFilter(5), hash=base_hash, token_size=2, padding="_",
        attributes=WEIGHTED,
    )
    yield "rbf", MaskConfig(
        filter=RBFFilter(5, seed=727), hash=base_hash, token_size=2, padding="_",
        attributes=WEIGHTED,
    )
    yield "clk-hardened-all", MaskConfig(
        filter=CLKFilter(512, 5), hash=base_hash, token_size=2, padding="_",
        hardeners=(
            HardenerConfig("balance"),
            HardenerConfig("permute", seed=727),
            HardenerConfig("randomized_response", seed=12345, probability=0.25),
            HardenerConfig("rule_90"),
            HardenerConfig("rehash", window_size=16, window_step=8, samples=2),
            HardenerConfig("xor_fold"),
        ),
    )


@pytest.mark.parametrize("name,cfg", list(cfg_variants()))
def test_encoder_matches_naive_replay(name, cfg):
    persons = make_persons(12)
    attrs = [a.attribute_name for a in cfg.attributes] if cfg.filter.type != "clk" else ATTRS
    enc = BloomEncoder(cfg, attrs)
    ids = [p["id"] for p in persons]
    columns = {a: [p[a] for p in persons] for a in ATTRS}
    got = enc.encode_batch_b64(ids, columns)
    expected = [naive_encode(cfg, p, attrs) for p in persons]
    assert got == expected, f"config {name}: encoder diverges from naive replay"


def test_all_configs_produce_distinct_vectors():
    """Reference test_mask.py:116-123 — across configs, vectors differ."""
    persons = make_persons(5)
    ids = [p["id"] for p in persons]
    columns = {a: [p[a] for p in persons] for a in ATTRS}
    seen = {}
    for name, cfg in cfg_variants():
        attrs = [a.attribute_name for a in cfg.attributes] if cfg.filter.type != "clk" else ATTRS
        vecs = tuple(BloomEncoder(cfg, attrs).encode_batch_b64(ids, columns))
        assert vecs not in seen.values(), f"{name} collides with another config"
        seen[name] = vecs


def test_vectors_non_empty():
    persons = make_persons(5)
    cfg = MaskConfig(
        filter=CLKFilter(1024, 5),
        hash=HashConfig(HashFunctionConfig(("sha1",)), "double_hash"),
        token_size=2, padding="_",
    )
    enc = BloomEncoder(cfg, ATTRS)
    for raw in enc.encode_batch([p["id"] for p in persons],
                                {a: [p[a] for p in persons] for a in ATTRS}):
        assert any(raw), "vector must have at least one set bit"


def test_empty_token_guard():
    """Reference issue ul-mds/pprl#1 (test_mask.py:587-618): q > len(value)
    with no padding produces zero tokens → error."""
    cfg = MaskConfig(
        filter=CLKFilter(1024, 5),
        hash=HashConfig(HashFunctionConfig(("sha1",)), "double_hash"),
        token_size=3, padding="",
    )
    enc = BloomEncoder(cfg, ["gender"])
    with pytest.raises(ValueError, match="did not produce any tokens"):
        enc.encode_batch(["p1"], {"gender": ["m"]})


def test_encoder_deterministic_across_instances():
    persons = make_persons(8)
    cfg = MaskConfig(
        filter=RBFFilter(5, seed=99),
        hash=HashConfig(HashFunctionConfig(("sha256",)), "double_hash"),
        token_size=2, padding="_", attributes=WEIGHTED,
    )
    ids = [p["id"] for p in persons]
    cols = {a: [p[a] for p in persons] for a in ATTRS}
    attrs = [a.attribute_name for a in WEIGHTED]
    assert (BloomEncoder(cfg, attrs).encode_batch_b64(ids, cols)
            == BloomEncoder(cfg, attrs).encode_batch_b64(ids, cols))


@pytest.mark.parametrize("name,cfg", list(cfg_variants()))
def test_encode_batch_slabs_match_single_record_batches(name, cfg):
    """2,500 records cross two slab boundaries; every row must equal its own
    1-record batch, and rows at the boundaries must equal the naive replay."""
    persons = make_persons(2500)
    attrs = [a.attribute_name for a in cfg.attributes] if cfg.filter.type != "clk" else ATTRS
    enc = BloomEncoder(cfg, attrs)
    ids = [p["id"] for p in persons]
    columns = {a: [p[a] for p in persons] for a in ATTRS}
    got = enc.encode_batch(ids, columns)
    single = [enc.encode_batch([ids[i]], {a: [v[i]] for a, v in columns.items()})[0]
              for i in range(len(ids))]
    assert got == single, f"config {name}: slab rows diverge from 1-record batches"
    for i in (0, 1023, 1024, 2047, 2048, 2499):
        assert base64.b64encode(got[i]).decode() == naive_encode(cfg, persons[i], attrs), (name, i)


def _hardener_cases():
    yield "balance", (HardenerConfig("balance"),)
    yield "xor_fold", (HardenerConfig("xor_fold"),)
    yield "permute", (HardenerConfig("permute", seed=727),)
    yield "randomized_response", (HardenerConfig("randomized_response", seed=5, probability=0.25),)
    yield "rule_90", (HardenerConfig("rule_90"),)
    yield "rehash", (HardenerConfig("rehash", window_size=12, window_step=4, samples=3),)
    yield "chain", (
        HardenerConfig("xor_fold"),
        HardenerConfig("permute", seed=31),
        HardenerConfig("rehash", window_size=16, window_step=8, samples=2),
        HardenerConfig("randomized_response", seed=9, probability=0.5),
        HardenerConfig("rule_90"),
        HardenerConfig("xor_fold"),
        HardenerConfig("balance"),
    )


@pytest.mark.parametrize("m", [131, 128])
@pytest.mark.parametrize("name,hardeners", list(_hardener_cases()))
def test_hardeners_on_matrix_equal_row_by_row(name, hardeners, m):
    """The encoder hardens a whole ``(rows, m)`` slab in one call; that must
    equal hardening each row alone (odd m pads xor_fold per row)."""
    from pprl_spark.kernels.harden import build_hardener_chain

    chain = build_hardener_chain(hardeners)
    matrix = np.random.default_rng(m).random((9, m)) < 0.4
    before = matrix.copy()
    rows = np.stack([chain(row) for row in matrix])
    assert np.array_equal(chain(matrix), rows), name
    assert np.array_equal(matrix, before), "input mutated"
