"""Seeded request streams of the serve workload.

The source tables are fixed (`perfbench/data`). The seed draws the
request streams: the same seed gives the same streams.
"""
import numpy as np

GEN_VERSION = 2

# Node-id offsets of the served graph (graft.load.GraphLoader).
NATION_OFF = 100
CUSTOMER_OFF = 1_000_000
PART_OFF = 3_000_000
ORDER_OFF = 10_000_000
# Customer ids the writer inserts: a window of 100k per phase and 10k
# per client, above every source key and below the supplier range. A
# traced run replays the stream in a second phase (see harness Serve).
INSERT_BASE = 1_500_000
INSERT_PHASE_SPAN = 100_000
INSERT_CLIENT_SPAN = 10_000
PHASES = 2

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

# Request classes and their shares.
READ_MIX = [("point", 0.40), ("hop1", 0.20), ("hop2", 0.15),
            ("graphql", 0.15), ("agg", 0.10)]
WRITE_MIX = [("insert", 0.40), ("update", 0.40), ("edge", 0.20)]

# The class of the i-th read is READ_CYCLE[i % 20] and of the i-th write
# WRITE_CYCLE[i % 5]: exact shares over every whole cycle, and the rarest
# class leads each half-cycle, so any N reads hold at least ceil(N / 10)
# `agg` reads and the first three writes hold one of each write class.
READ_CYCLE = ["agg", "point", "hop1", "point", "graphql", "hop2", "point", "hop1", "point",
              "graphql",
              "agg", "point", "hop2", "point", "hop1", "graphql", "point", "hop2", "point",
              "hop1"]
WRITE_CYCLE = ["insert", "update", "edge", "insert", "update"]

# The readers share one read stream (client READ_STREAM): each takes the
# next unsent read when its previous reply arrives. The writer walks its
# own stream (client WRITE_STREAM), back to back.
READ_STREAM, WRITE_STREAM = 0, 1

GRAPHQL_HOP = ("query($n: String!, $s: String!) { Nation(name: $n) { name "
               "customers: in_IN_NATION(mktsegment: $s) { name } } }")

CUSTOMER_READS = {
    "point": "SELECT id, name, mktsegment FROM Customer WHERE id = {}",
    "hop1": "SELECT expand(out('PLACED')) FROM Customer WHERE id = {}",
    "hop2": "SELECT out('PLACED').out('CONTAINS').id AS parts FROM Customer WHERE id = {}",
}


def read_request(cls, k):
    """One read of class `cls` with key index `k` in the class's domain."""
    if cls in CUSTOMER_READS:
        cid = CUSTOMER_OFF + k
        return {"lang": "sql", "key": cid, "command": CUSTOMER_READS[cls].format(cid)}
    if cls == "graphql":
        nation, seg = divmod(k, len(SEGMENTS))
        return {"lang": "graphql", "key": k, "command": GRAPHQL_HOP,
                "vars": {"n": f"NATION_{nation}", "s": SEGMENTS[seg]}}
    if cls == "agg":
        return {"lang": "sql", "key": k,
                "command": "SELECT status, count(*) AS n FROM Order "
                           f"WHERE priority = '{PRIORITIES[k]}' GROUP BY status"}
    raise ValueError(cls)


def write_request(cls, rng, seq, slots, n_customers):
    """One write; `slots` is the number of inserts before it."""
    if cls == "insert":
        return {"ids": insert_ids(WRITE_STREAM, slots),
                "command": "INSERT INTO Customer (id, name, acctbal, mktsegment) "
                           "VALUES ({ID}, 'Bench#{ID}', 0.5, 'BENCH')"}
    if cls == "update":
        cid = CUSTOMER_OFF + int(rng.integers(0, n_customers))
        val = round(seq + 0.25, 2)
        return {"key": cid, "value": val,
                "command": f"UPDATE Customer SET acctbal = {val} WHERE id = {cid}"}
    if cls == "edge":
        nation = NATION_OFF + int(rng.integers(0, 25))
        return {"ids": insert_ids(WRITE_STREAM, slots - 1), "key": nation,
                "command": f"CREATE EDGE IN_NATION FROM {{ID}} TO {nation}"}
    raise ValueError(cls)


def request_streams(seed, n_customers, reads=3000, writes=1000):
    """The read stream and the write stream of the serve workload.

    Classes follow READ_CYCLE and WRITE_CYCLE; keys are uniform draws
    from the seed. An insert or edge carries `ids`, the new customer's
    id in each phase: ranges disjoint per client and per phase. An edge
    starts at the writer's latest insert. The writer's last acknowledged
    update of a key is therefore that key's final value."""
    rng = np.random.default_rng([GEN_VERSION, seed])
    dom = {"point": n_customers, "hop1": n_customers, "hop2": n_customers,
           "graphql": 25 * len(SEGMENTS), "agg": len(PRIORITIES)}
    read_stream = []
    for seq in range(reads):
        cls = READ_CYCLE[seq % len(READ_CYCLE)]
        req = read_request(cls, int(rng.integers(0, dom[cls])))
        req.update({"route": "query", "client": READ_STREAM, "seq": seq, "cls": cls})
        read_stream.append(req)
    write_stream, slots = [], 0
    for seq in range(writes):
        cls = WRITE_CYCLE[seq % len(WRITE_CYCLE)]
        req = write_request(cls, rng, seq, slots, n_customers)
        slots += cls == "insert"
        req.update({"lang": "sql", "route": "command", "client": WRITE_STREAM, "seq": seq,
                    "cls": cls})
        write_stream.append(req)
    if slots > INSERT_CLIENT_SPAN:
        raise ValueError("insert slots exceed the per-client id span")
    return [read_stream, write_stream]


def insert_ids(client, slot):
    return [INSERT_BASE + phase * INSERT_PHASE_SPAN + client * INSERT_CLIENT_SPAN + slot
            for phase in range(PHASES)]
