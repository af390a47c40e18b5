"""Seeded input generators for the benchmark, plus the independent
reference computations its output checks compare against.

Update workloads get a node snapshot laid out as polylines (one way per
polyline, with ordered members and some shared junction nodes) and a
stream of change batches. Each batch holds creates, modifies that move a
node, modifies that keep its location, deletes, way modifies, and a later
second version of some nodes already changed in the same batch, so that
last-writer-wins compaction has work to do.

Query workloads get TPC-H-shaped base tables with the same schemas the
program's derived views read (lineitem, part, documents, embeddings, ...).
Their content is fixed; the seed only orders the queries of a pass.

All coordinates are integers in units of 1e-7 degree divided by 1e7, so
every value written is the same double on both sides of a check.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

COORD = 10_000_000  # 1e-7 degree units per degree
M64 = (1 << 64) - 1

# Input shapes below are assumptions, not measurements: no real .osc sample
# or document corpus is in the repository to calibrate them against.
# NOTES.md ("Input assumptions") lists which figures each one sets.
#
# Rows of one change batch, as shares of the batch; the rest are creates.
MIX = dict(move=0.45, touch=0.10, delete=0.10, way=0.10, dup=0.10)
JUNCTION_SHARE = 0.1  # ways whose last member is a node of another way
NEAR_DUP_SHARE = 0.2  # documents copied from an earlier one with 0-2 words changed
EMBED_CLUSTERS = 10  # Gaussian clusters the embeddings are drawn from


# --------------------------------------------------------------- checksum

def _mix(z):
    """splitmix64 finalizer over uint64 arrays (wraps mod 2^64)."""
    z = z + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def node_checksum(ids, lon, lat):
    """Order-independent checksum of (id, lon, lat) rows, as 16 hex digits.

    Row hash mix(id ^ mix(bits(lon) ^ mix(bits(lat)))), summed mod 2^64;
    the JVM harness computes the same function over the committed snapshot.
    """
    with np.errstate(over="ignore"):
        ids = np.asarray(ids, dtype=np.int64).view(np.uint64)
        lonb = np.asarray(lon, dtype=np.float64).view(np.uint64)
        latb = np.asarray(lat, dtype=np.float64).view(np.uint64)
        h = _mix(ids ^ _mix(lonb ^ _mix(latb)))
        total = int(h.sum(dtype=np.uint64)) & M64
    return f"{total:016x}"


# -------------------------------------------------------- update workloads

def _ways(rng, nodes):
    """Polylines covering node ids 1..nodes; returns (lon_i, lat_i, members)."""
    lengths = rng.integers(2, 13, size=nodes // 2 + 1)
    lengths = lengths[: int(np.searchsorted(np.cumsum(lengths), nodes)) + 1]
    lengths[-1] -= int(lengths.sum()) - nodes
    if lengths[-1] < 1:
        lengths = lengths[:-1]
    n_ways = len(lengths)
    way_of = np.repeat(np.arange(n_ways), lengths)
    starts = np.concatenate([[0], np.cumsum(lengths)[:-1]])
    pos = np.arange(nodes) - np.repeat(starts, lengths)
    x0 = rng.integers(-180 * COORD, 180 * COORD - 10**6, size=n_ways)
    y0 = rng.integers(-85 * COORD, 85 * COORD - 10**6, size=n_ways)
    step = rng.integers(-2000, 2001, size=(2, nodes))
    step[:, starts] = 0
    cx = np.cumsum(step[0])
    cy = np.cumsum(step[1])
    lon_i = x0[way_of] + cx - (cx[starts])[way_of]
    lat_i = y0[way_of] + cy - (cy[starts])[way_of]
    node_ids = np.arange(1, nodes + 1, dtype=np.int64)
    way_ids = way_of.astype(np.int64) + 1
    junction_ways = np.flatnonzero(rng.random(n_ways) < JUNCTION_SHARE)
    j_nodes = rng.integers(1, nodes + 1, size=len(junction_ways))
    members = (
        np.concatenate([way_ids, junction_ways.astype(np.int64) + 1]),
        np.concatenate([node_ids, j_nodes.astype(np.int64)]),
        np.concatenate([pos, lengths[junction_ways]]).astype(np.int32),
    )
    return lon_i.astype(np.int64), lat_i.astype(np.int64), members


def gen_update(seed, nodes, changes_per_seq, seqs):
    """Generate an update workload in memory.

    Returns a dict of numpy columns: `nodes` (id, lon_i, lat_i),
    `members` (way_id, node_id, pos) and `changes` (seq, eid, obj_type code,
    id, version, deleted, action code, ts_us, lon_i, lat_i). Seqs are
    numbered 1..seqs and every seq has exactly `changes_per_seq` rows.
    obj_type codes: 0 node, 1 way; action codes: 0 create, 1 modify, 2 delete.
    """
    rng = np.random.default_rng(seed)
    lon_i, lat_i, members = _ways(rng, nodes)
    n_ways = int(members[0].max())
    cap = nodes + seqs * changes_per_seq + 1
    alive = np.zeros(cap, dtype=bool)
    alive[1 : nodes + 1] = True
    cur_x = np.zeros(cap, dtype=np.int64)
    cur_y = np.zeros(cap, dtype=np.int64)
    cur_x[1 : nodes + 1] = lon_i
    cur_y[1 : nodes + 1] = lat_i
    ver = np.ones(cap, dtype=np.int32)
    way_ver = np.ones(n_ways + 1, dtype=np.int32)
    next_id = nodes + 1

    cols = {k: [] for k in ("seq", "obj", "id", "version", "deleted", "action", "x", "y")}

    def emit(seq, obj, ids, version, deleted, action, x, y):
        n = len(ids)
        cols["seq"].append(np.full(n, seq, dtype=np.int64))
        cols["obj"].append(np.full(n, obj, dtype=np.int8))
        cols["id"].append(ids.astype(np.int64))
        cols["version"].append(version.astype(np.int32))
        cols["deleted"].append(np.full(n, deleted, dtype=np.int32))
        cols["action"].append(np.full(n, action, dtype=np.int8))
        cols["x"].append(x.astype(np.int64))
        cols["y"].append(y.astype(np.int64))

    def emit_round(seq, c):
        """c change rows touching distinct live nodes."""
        nonlocal next_id
        n_move, n_touch, n_delete, n_way, n_dup = (
            int(c * MIX[k]) for k in ("move", "touch", "delete", "way", "dup"))
        n_create = c - n_move - n_touch - n_delete - n_way - n_dup
        picked = rng.choice(np.flatnonzero(alive), size=n_move + n_touch + n_delete,
                            replace=False)
        moved = picked[:n_move]
        touched = picked[n_move : n_move + n_touch]
        deleted = picked[n_move + n_touch :]
        created = np.arange(next_id, next_id + n_create)
        next_id += n_create

        ver[moved] += 1
        cur_x[moved] += rng.integers(-5000, 5001, size=n_move)
        cur_y[moved] += rng.integers(-5000, 5001, size=n_move)
        emit(seq, 0, moved, ver[moved], 0, 1, cur_x[moved], cur_y[moved])
        ver[touched] += 1
        emit(seq, 0, touched, ver[touched], 0, 1, cur_x[touched], cur_y[touched])
        alive[created] = True
        cur_x[created] = rng.integers(-180 * COORD, 180 * COORD, size=n_create)
        cur_y[created] = rng.integers(-85 * COORD, 85 * COORD, size=n_create)
        emit(seq, 0, created, ver[created], 0, 0, cur_x[created], cur_y[created])
        ways = rng.choice(np.arange(1, n_ways + 1), size=n_way, replace=False)
        way_ver[ways] += 1
        zeros = np.zeros(n_way, dtype=np.int64)
        emit(seq, 1, ways, way_ver[ways], 0, 1, zeros, zeros)
        # second versions of nodes moved or created earlier in this round
        again = rng.choice(np.concatenate([moved, created]), size=n_dup, replace=False)
        ver[again] += 1
        cur_x[again] += rng.integers(-5000, 5001, size=n_dup)
        cur_y[again] += rng.integers(-5000, 5001, size=n_dup)
        emit(seq, 0, again, ver[again], 0, 1, cur_x[again], cur_y[again])
        # deletes last: a deleted node is never touched again
        alive[deleted] = False
        ver[deleted] += 1
        zeros = np.zeros(n_delete, dtype=np.int64)
        emit(seq, 0, deleted, ver[deleted], 1, 2, zeros, zeros)

    for seq in range(1, seqs + 1):
        # a batch larger than half the live nodes (catch-up after downtime)
        # is several rounds, each touching a node at most once
        left = changes_per_seq
        while left > 0:
            c = min(left, max(int(alive.sum()) // 2, 20))
            emit_round(seq, c)
            left -= c

    ch = {k: np.concatenate(v) for k, v in cols.items()}
    n = len(ch["id"])
    ch["eid"] = np.arange(1, n + 1, dtype=np.int64)
    ch["ts_us"] = 1_700_000_000_000_000 + ch["eid"] * 1_000
    return {
        "nodes": (np.arange(1, nodes + 1, dtype=np.int64), lon_i, lat_i),
        "members": members,
        "changes": ch,
    }


def replay(data, upto=None):
    """Independent last-writer-wins replay of the generated change stream,
    through seq `upto` (default: all of it).

    Per seq and node id, the record with the highest (version, deleted, ts,
    eid) wins; a delete removes the node, anything else upserts it. Way
    records never change node locations. Returns (state dict id ->
    (lon_i, lat_i), list of snapshot sizes after each seq).
    """
    ids, xs, ys = data["nodes"]
    state = dict(zip(ids.tolist(), zip(xs.tolist(), ys.tolist())))
    ch = data["changes"]
    sizes = []
    order = np.lexsort((ch["eid"], ch["ts_us"], ch["deleted"], ch["version"],
                        ch["id"], ch["obj"], ch["seq"]))
    seq_a, obj_a, id_a = ch["seq"][order], ch["obj"][order], ch["id"][order]
    del_a, x_a, y_a = ch["deleted"][order], ch["x"][order], ch["y"][order]
    last_seq = int(seq_a.max()) if len(seq_a) else 0
    if upto is not None:
        last_seq = min(last_seq, upto)
    bounds = np.searchsorted(seq_a, np.arange(1, last_seq + 2))
    for s in range(last_seq):
        lo, hi = bounds[s], bounds[s + 1]
        winners = {}
        for i in range(lo, hi):  # sorted ascending: the last one per id wins
            if obj_a[i] == 0:
                winners[int(id_a[i])] = i
        for nid, i in winners.items():
            if del_a[i]:
                state.pop(nid, None)
            else:
                state[nid] = (int(x_a[i]), int(y_a[i]))
        sizes.append(len(state))
    return state, sizes


def state_checksum(state):
    ids = np.fromiter(state.keys(), dtype=np.int64, count=len(state))
    xy = np.array(list(state.values()), dtype=np.int64).reshape(-1, 2)
    return node_checksum(ids, xy[:, 0] / COORD, xy[:, 1] / COORD)


def write_update(data, out_dir):
    """Write node_geoms, way_members and changes parquet under out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    ids, xs, ys = data["nodes"]
    pq.write_table(pa.table({"id": ids, "lon": xs / COORD, "lat": ys / COORD}),
                   f"{out_dir}/node_geoms.parquet")
    w, n, p = data["members"]
    pq.write_table(pa.table({"way_id": w, "node_id": n, "pos": p}),
                   f"{out_dir}/way_members.parquet")
    ch = data["changes"]
    is_node = ch["obj"] == 0
    live = is_node & (ch["deleted"] == 0)
    coord = lambda a: pa.array(a / COORD, mask=~live)
    action = np.array(["create", "modify", "delete"])[ch["action"]]
    table = pa.table({
        "seq": ch["seq"],
        "eid": ch["eid"],
        "obj_type": np.where(is_node, "node", "way"),
        "id": ch["id"],
        "version": ch["version"],
        "deleted": ch["deleted"],
        "action": action,
        "ts": pa.array(ch["ts_us"], type=pa.timestamp("us")),
        "lon": coord(ch["x"]),
        "lat": coord(ch["y"]),
        "rel_type": pa.nulls(len(ch["id"]), type=pa.string()),
    })
    per_seq = int(np.count_nonzero(ch["seq"] == 1)) or None
    pq.write_table(table, f"{out_dir}/changes.parquet", row_group_size=per_seq)


# --------------------------------------------------------- query workloads

WORDS = ("the a data spark table row column value key join group sort hash "
         "scan filter window stream batch merge order line part query agg "
         "vector index cell tile node way point polygon fast slow big small "
         "map reduce cache store").split()
LANGS = ["en", "de", "fr", "es", "zh"]


def write_query(out_dir, orders, parts, docs, vectors):
    """Write the ten base tables the program's derived views read.

    Content is fixed by the sizes alone (a constant generator seed), so
    query results can be pinned.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(20240601)
    ts0 = 820_454_400_000_000  # 1996-01-01 in microseconds

    def put(name, cols):
        pq.write_table(pa.table(cols), f"{out_dir}/{name}.parquet")

    put("region", {"r_regionkey": pa.array(np.arange(5), pa.int32()),
                   "r_name": [f"R{i}" for i in range(5)]})
    put("nation", {"n_nationkey": pa.array(np.arange(25), pa.int32()),
                   "n_name": [f"N{i}" for i in range(25)],
                   "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    n_cust = max(orders // 10, 10)
    put("customer", {
        "c_custkey": np.arange(1, n_cust + 1, dtype=np.int64),
        "c_name": [f"Customer#{i}" for i in range(1, n_cust + 1)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": rng.choice(["AUTO", "BUILD", "FURN", "HOUSE", "MACH"], n_cust)})
    n_supp = max(parts // 20, 10)
    put("supplier", {
        "s_suppkey": np.arange(1, n_supp + 1, dtype=np.int64),
        "s_name": [f"Supplier#{i}" for i in range(1, n_supp + 1)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2)})
    put("part", {
        "p_partkey": np.arange(1, parts + 1, dtype=np.int64),
        "p_name": [f"part {i}" for i in range(1, parts + 1)],
        "p_brand": [f"Brand#{i % 25}" for i in range(1, parts + 1)],
        "p_type": rng.choice(["STEEL", "BRASS", "TIN", "COPPER"], parts),
        "p_size": pa.array(rng.integers(1, 51, parts), pa.int32()),
        "p_retailprice": np.round(rng.uniform(900, 2000, parts), 2)})
    okeys = np.arange(1, orders + 1, dtype=np.int64)
    put("orders", {
        "o_orderkey": okeys,
        "o_custkey": rng.integers(1, n_cust + 1, orders),
        "o_orderstatus": rng.choice(["O", "F", "P"], orders),
        "o_totalprice": np.round(rng.uniform(1000, 400000, orders), 2),
        "o_orderdate": pa.array(ts0 + rng.integers(0, 2400, orders) * 86_400_000_000,
                                pa.timestamp("us")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM"], orders)})
    lines = rng.integers(1, 8, orders)
    n_li = int(lines.sum())
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    put("lineitem", {
        "l_orderkey": np.repeat(okeys, lines),
        "l_partkey": rng.integers(1, parts + 1, n_li),
        "l_suppkey": rng.integers(1, n_supp + 1, n_li),
        "l_linenumber": pa.array(np.arange(n_li) - starts + 1, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": pa.array(ts0 + rng.integers(0, 2500, n_li) * 86_400_000_000,
                               pa.timestamp("us"))})
    n_ev = max(orders // 10, 100)
    put("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts0 + np.arange(n_ev) * 1_000_000, pa.timestamp("us")),
        "user_id": rng.integers(1, 1000, n_ev),
        "event_type": rng.choice(["click", "view", "error", "buy"], n_ev),
        "value": np.round(rng.uniform(0, 100, n_ev), 2),
        "props": [f'{{"k":{i % 7}}}' for i in range(n_ev)]})

    texts = []
    for i in range(docs):
        if i > 10 and rng.random() < NEAR_DUP_SHARE:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(0, 3))):
                words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(8, 80)))]
        texts.append(" ".join(words))
    put("documents", {
        "doc_id": np.arange(docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, docs),
        "source": [f"src{i % 10}" for i in range(docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    labels = rng.integers(0, EMBED_CLUSTERS, vectors)
    centers = rng.normal(0, 0.12, (EMBED_CLUSTERS, 64))
    emb = (centers[labels] + rng.normal(0, 0.05, (vectors, 64))).astype(np.float32)
    put("embeddings", {
        "vec_id": np.arange(vectors, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
