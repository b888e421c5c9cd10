"""Seeded input generators owned by the benchmark.

Everything here is a pure function of ``(seed, size)``: the same seed writes
the same bytes.  The product under test only ever sees the files and block
streams these functions write; nothing here imports the product.

- :func:`write_tables` writes the ten TPC-H-shaped tables the headline
  queries read (``region`` ... ``embeddings``), sized like the ``sf`` scale
  factor of the repository's TPC-H-shaped test data.
- :func:`cardano_chain` builds a transaction chain with realistic entropy
  (random 32-byte ids, skewed fees and amounts, a few thousand addresses of
  Zipf popularity, one popular token among noise tokens, inputs chaining to
  earlier outputs).  :func:`write_lake` lays it out like the reference's
  extracted lake (``{table}/slot_group=N/part-0.parquet``) and
  :func:`write_blocks` writes it as Ogmios-shaped JSON-lines blocks.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SLOT_GROUP_SIZE = 200_000

# The analysed token: the package's default token-report target, so the
# report call needs no token argument.  Noise tokens use other policies.
TOKEN_POLICY = bytes([0x01]) * 27 + bytes([0x2A])
TOKEN_NAME = b"SNEK"

_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_LANG_P = [0.14, 0.42, 0.15, 0.14, 0.15]


def _write(root: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(root, f"{name}.parquet"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, n, start, span_days):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _documents(rng, n):
    """Random texts over a small vocabulary, with near-duplicate replicas
    (a few word edits) and a few exact copies, so the dedup operators find
    real candidate buckets."""
    texts: list[str] = []
    for i in range(n):
        u = rng.random()
        if i > 10 and u < 0.10:
            words = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = _WORDS[
                    int(rng.integers(0, len(_WORDS)))
                ]
            texts.append(" ".join(words))
        elif i > 10 and u < 0.102:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(np.clip(rng.normal(54, 25), 5, 100))
            texts.append(" ".join(rng.choice(_WORDS, k)))
    return texts


def write_tables(root: str, seed: int, sf: float) -> None:
    """Write the ten headline tables for scale factor ``sf``."""
    os.makedirs(root, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1_000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    _write(root, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    _write(root, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(root, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    _write(root, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    _write(root, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": rng.choice(names, n_part),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    _write(root, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", 2404),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(root, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", 2498),
    })
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * 86_400_000_000, n_ev)
    ).astype("timedelta64[us]")
    _write(root, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, max(15, n_ev // 66), n_ev),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(40.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = _documents(rng, n_doc)
    _write(root, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_doc, p=_LANG_P),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    emb = rng.normal(size=(n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(root, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.ravel()), 64
        ).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })


# -- Cardano chain ------------------------------------------------------------


def _addresses(rng, n: int) -> np.ndarray:
    alphabet = np.array(list("023456789acdefghjklmnpqrstuvwxyz"))
    body = rng.choice(alphabet, size=(n, 53))
    return np.array(["addr1q" + "".join(r) for r in body])


def cardano_chain(
    seed: int,
    n_tx: int,
    first_slot: int,
    slot_span: int,
    txs_per_block: float = 8.0,
    n_addr: int = 3_000,
    n_noise: int = 40,
) -> dict:
    """A columnar transaction chain.

    Returns a dict of numpy arrays: per transaction (``slot``, ``tx_id``,
    ``fee``, ``n_out``, ``n_in``, ``block``), per output (``out_tx``,
    ``out_addr``, ``lovelace``, ``token`` -1 none / 0 the analysed token /
    k a noise token, ``token_amt``, ``datum`` 0 none / 1 hash / 2 inline),
    per input (``in_tx``, ``src_tx`` -1 for outside the chain,
    ``src_ext``, ``src_idx``), per mint entry (``mint_tx``, ``mint_token``,
    ``mint_qty``), plus a stake certificate and a redeemer flag per
    transaction.
    """
    rng = np.random.default_rng(seed)
    # blocks: Poisson-sized, geometric slot gaps spreading the blocks over
    # ``slot_span`` slots
    n_blocks = max(1, int(np.ceil(n_tx / txs_per_block)))
    slot_gap = max(1.0, 0.95 * slot_span / n_blocks)
    per_block = np.maximum(1, rng.poisson(txs_per_block, n_blocks))
    per_block[-1] += max(0, n_tx - per_block.sum())
    block_of_tx = np.repeat(np.arange(n_blocks), per_block)[:n_tx]
    block_slot = first_slot + np.cumsum(rng.geometric(1.0 / slot_gap, n_blocks))
    slot = block_slot[block_of_tx]
    tx_id = rng.integers(0, 256, (n_tx, 32), dtype=np.uint8)
    # fees: min fee plus a heavy tail; ~2-3% above the 2 ADA report bar
    fee = (155_381 + rng.lognormal(10.8, 1.35, n_tx)).astype(np.int64)
    fee = np.minimum(fee, 25_000_000)

    n_out = 1 + np.minimum(rng.poisson(1.2, n_tx), 6)
    out_tx = np.repeat(np.arange(n_tx), n_out)
    m = len(out_tx)
    out_start = np.concatenate([[0], np.cumsum(n_out)[:-1]])
    zipf = rng.zipf(1.3, m)
    out_addr = (zipf - 1) % n_addr
    lovelace = (1_000_000 + rng.lognormal(15.5, 2.0, m)).astype(np.int64)
    lovelace = np.minimum(lovelace, 10**15)
    u = rng.random(m)
    token = np.where(u < 0.06, 0, np.where(u < 0.16, 1 + (zipf % n_noise), -1))
    token_amt = np.where(token >= 0, rng.integers(1, 10**9, m), 0)
    u = rng.random(m)
    datum = np.where(u < 0.03, 1, np.where(u < 0.04, 2, 0))

    # inputs chain to earlier outputs: mostly recent, sometimes old
    n_in = 1 + np.minimum(rng.poisson(0.9, n_tx), 5)
    in_tx = np.repeat(np.arange(n_tx), n_in)
    k = len(in_tx)
    back = np.where(
        rng.random(k) < 0.7,
        rng.geometric(1.0 / 500, k),
        (rng.random(k) * (in_tx + 1)).astype(np.int64) + 1,
    )
    src_tx = in_tx - back
    src_idx = (rng.random(k) * n_out[np.maximum(src_tx, 0)]).astype(np.int32)
    src_ext = rng.integers(0, 256, (k, 32), dtype=np.uint8)

    # mints: ~0.5% of txs mint the analysed token or a noise token
    mint_tx = np.flatnonzero(rng.random(n_tx) < 0.005)
    mint_token = np.where(
        rng.random(len(mint_tx)) < 0.3, 0, 1 + rng.integers(0, n_noise, len(mint_tx))
    )
    mint_qty = rng.integers(-10**6, 10**9, len(mint_tx))
    return {
        "slot": slot, "tx_id": tx_id, "fee": fee, "n_out": n_out,
        "n_in": n_in, "block": block_of_tx, "block_slot": block_slot,
        "out_tx": out_tx, "out_start": out_start, "out_addr": out_addr,
        "addresses": _addresses(rng, n_addr), "lovelace": lovelace,
        "token": token, "token_amt": token_amt, "datum": datum,
        "datum_bytes": rng.integers(0, 256, (m, 32), dtype=np.uint8),
        "in_tx": in_tx, "src_tx": src_tx, "src_idx": src_idx,
        "src_ext": src_ext, "mint_tx": mint_tx, "mint_token": mint_token,
        "mint_qty": mint_qty,
        "cert": rng.random(n_tx) < 0.004,
        "redeemer": rng.random(n_tx) < 0.01,
        "noise_policies": rng.integers(0, 256, (n_noise + 1, 28), dtype=np.uint8),
    }


def _bin(rows: np.ndarray) -> pa.Array:
    """A (n, width) uint8 matrix as a pyarrow binary column."""
    n, width = rows.shape
    buf = pa.py_buffer(np.ascontiguousarray(rows).tobytes())
    return pa.FixedSizeBinaryArray.from_buffers(
        pa.binary(width), n, [None, buf]
    ).cast(pa.binary())


def _token_ids(c: dict, tok: np.ndarray) -> tuple[pa.Array, pa.Array]:
    pol = c["noise_policies"].copy()
    pol[0] = np.frombuffer(TOKEN_POLICY, np.uint8)
    names = np.array([TOKEN_NAME] + [b"NOISE%d" % t for t in range(1, len(pol))])
    return _bin(pol[tok]), pa.array(names[tok], pa.binary())


def _src_ids(c: dict) -> np.ndarray:
    ids = c["src_ext"].copy()
    inside = c["src_tx"] >= 0
    ids[inside] = c["tx_id"][c["src_tx"][inside]]
    return ids


def expected_rows(c: dict) -> dict[str, int]:
    """Row count per lake table implied by the chain (the ingest oracle)."""
    return {
        "tx": len(c["slot"]),
        "utxo": len(c["out_tx"]),
        "asset": int((c["token"] >= 0).sum()),
        "mint": len(c["mint_tx"]),
        "datum": int((c["datum"] > 0).sum()),
        "cert": int(c["cert"].sum()),
        "cert_stake": int(c["cert"].sum()),
        "redeemer": int(c["redeemer"].sum()),
    }


def write_lake(root: str, c: dict) -> None:
    """Write the chain as the slot-group-partitioned lake (tx, utxo, asset,
    mint; one zstd file per partition, rows in slot order)."""
    n_tx = len(c["slot"])
    group = (c["slot"] // SLOT_GROUP_SIZE) * SLOT_GROUP_SIZE
    ids = c["tx_id"]
    in_off = np.concatenate([[0], np.cumsum(c["n_in"])])
    inputs = pa.ListArray.from_arrays(
        pa.array(in_off, pa.int32()),
        pa.StructArray.from_arrays(
            [_bin(_src_ids(c)), pa.array(c["src_idx"], pa.int32())],
            names=["tx_id", "output_index"],
        ),
    )
    has_mint = np.zeros(n_tx, bool)
    has_mint[c["mint_tx"]] = True
    out_idx = (np.arange(len(c["out_tx"])) - c["out_start"][c["out_tx"]]).astype(np.int32)
    addr = c["addresses"][c["out_addr"]]
    tok = c["token"] >= 0
    pol, names = _token_ids(c, c["token"][tok])
    mpol, mnames = _token_ids(c, c["mint_token"])
    tables = {
        "tx": (c["slot"], {
            "slot": c["slot"],
            "tx_id": _bin(ids),
            "tx_fee": c["fee"],
            "input_count": c["n_in"].astype(np.int32),
            "output_count": c["n_out"].astype(np.int32),
            "redeemer_count": c["redeemer"].astype(np.int32),
            "witness_datum_count": np.bincount(
                c["out_tx"], weights=c["datum"] == 1, minlength=n_tx
            ).astype(np.int32),
            "has_mint": has_mint,
            "has_withdrawal": np.zeros(n_tx, bool),
            "has_cert": c["cert"],
            "has_vote": np.zeros(n_tx, bool),
            "has_proposal": np.zeros(n_tx, bool),
            "inputs": inputs,
        }),
        "utxo": (c["slot"][c["out_tx"]], {
            "slot": c["slot"][c["out_tx"]],
            "tx_id": _bin(ids[c["out_tx"]]),
            "output_index": out_idx,
            "address": addr,
            "lovelace": c["lovelace"],
            "has_token": tok,
            "has_datum": c["datum"] > 0,
            "has_ref_script": np.zeros(len(addr), bool),
        }),
        "asset": (c["slot"][c["out_tx"][tok]], {
            "slot": c["slot"][c["out_tx"][tok]],
            "tx_id": _bin(ids[c["out_tx"][tok]]),
            "output_index": out_idx[tok],
            "address": addr[tok],
            "policy_id": pol,
            "asset_name": names,
            "amount": c["token_amt"][tok],
        }),
        "mint": (c["slot"][c["mint_tx"]], {
            "slot": c["slot"][c["mint_tx"]],
            "tx_id": _bin(ids[c["mint_tx"]]),
            "policy_id": mpol,
            "asset_name": mnames,
            "quantity": c["mint_qty"],
        }),
    }
    for name, (slots, cols) in tables.items():
        tbl = pa.table(cols)
        groups = (slots // SLOT_GROUP_SIZE) * SLOT_GROUP_SIZE
        for g in np.unique(group):
            out = os.path.join(root, name, f"slot_group={g}")
            os.makedirs(out, exist_ok=True)
            pq.write_table(
                tbl.filter(pa.array(groups == g)),
                os.path.join(out, "part-0.parquet"),
                compression="zstd",
            )


def write_blocks(path: str, c: dict) -> int:
    """Write the chain as Ogmios-shaped JSON-lines blocks (one block per
    line, the shape ``cli extract --blocks`` replays); returns bytes."""
    ids = [r.tobytes().hex() for r in c["tx_id"]]
    src = [r.tobytes().hex() for r in _src_ids(c)]
    addr = c["addresses"]
    pol_hex = [p.tobytes().hex() for p in c["noise_policies"]]
    pol_hex[0] = TOKEN_POLICY.hex()
    name_hex = [TOKEN_NAME.hex()] + [
        (b"NOISE%d" % t).hex() for t in range(1, len(pol_hex))
    ]
    in_off = np.concatenate([[0], np.cumsum(c["n_in"])])
    mints: dict[int, dict] = {}
    for t, k, q in zip(c["mint_tx"], c["mint_token"], c["mint_qty"]):
        mints.setdefault(int(t), {}).setdefault(pol_hex[k], {})[name_hex[k]] = int(q)
    blocks: list[list[dict]] = [[] for _ in range(len(c["block_slot"]))]
    for t in range(len(c["slot"])):
        outs = []
        for o in range(c["out_start"][t], c["out_start"][t] + c["n_out"][t]):
            value = {"ada": {"lovelace": int(c["lovelace"][o])}}
            k = c["token"][o]
            if k >= 0:
                value[pol_hex[k]] = {name_hex[k]: int(c["token_amt"][o])}
            d = c["datum"][o]
            outs.append({
                "address": str(addr[c["out_addr"][o]]),
                "value": value,
                "datumHash": c["datum_bytes"][o].tobytes().hex() if d == 1 else None,
                "datum": "d87980" if d == 2 else None,
                "script": None,
            })
        tx = {
            "id": ids[t],
            "fee": {"ada": {"lovelace": int(c["fee"][t])}},
            "inputs": [
                {"transaction": {"id": src[i]}, "index": int(c["src_idx"][i])}
                for i in range(in_off[t], in_off[t + 1])
            ],
            "outputs": outs,
            "mint": mints.get(t, {}),
            "certificates": (
                [{"type": "stakeDelegation", "credential": ids[t][:56],
                  "pool_id": "pool1bench", "drep_id": None}]
                if c["cert"][t] else []
            ),
            "redeemers": (
                [{"tag": 0, "redeemer_index": 0, "data": "d87980",
                  "mem": 1_000_000, "steps": 500_000_000}]
                if c["redeemer"][t] else []
            ),
            "withdrawals": {},
            "votes": [],
            "proposals": [],
        }
        blocks[c["block"][t]].append(tx)
    with open(path, "w") as fh:
        for h, (s, txs) in enumerate(zip(c["block_slot"], blocks)):
            fh.write(json.dumps({
                "type": "praos", "slot": int(s), "height": h,
                "transactions": txs,
            }) + "\n")
    return os.path.getsize(path)


def lake_from_chain(root: str, seed: int, n_tx: int, first_slot: int,
                    slot_span: int) -> None:
    """Generate a chain and write it as a lake."""
    write_lake(root, cardano_chain(seed, n_tx, first_slot, slot_span))


def blocks_from_chain(path: str, seed: int, n_tx: int, first_slot: int,
                      slot_span: int, txs_per_block: float
                      ) -> tuple[int, dict[str, int]]:
    """Generate a chain and write it as a block stream; returns (bytes
    written, expected rows per lake table)."""
    c = cardano_chain(seed, n_tx, first_slot, slot_span, txs_per_block)
    return write_blocks(path, c), expected_rows(c)
