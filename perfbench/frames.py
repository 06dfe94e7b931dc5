"""Open-loop load for the cdc_replicate workload: pgoutput replication
frames, pre-rendered one parquet file per transaction.

The op model is the engine's churn model (`FrameChurnGenerator`): each op
is an insert of a fresh key, an update of a uniformly chosen live key or a
delete of one, drawn 85/10/5; every op takes the next value of one monotone
`seq`. Frames follow the pgoutput wire format (XLogData 'w' envelopes
around Relation/Begin/Insert/Update/Delete/Commit messages, text-format
tuple values) with LSNs that advance by payload bytes, as a WAL does. The
generator is written independently of the engine's own frame encoder, so a
decoder bug cannot be hidden by a matching encoder bug.

Output directory layout:
  txn-000000.parquet ...  one file per transaction, column `data` (binary)
  burst.parquet           the catch-up burst, several transactions
  txns.tsv                the load's schedule, one line per transaction in
                          WAL order: ops, commit walEnd, file, phase
                          (lead / steady / burst), scheduled landing in ms
                          from the start of the open loop (-1: the burst,
                          landed when the steady phase is confirmed)
  expected.parquet        reference state after all transactions
                          (id, seq, qty, payload), the source table's rows

The same (seed, configuration) always gives byte-identical files.
"""
import os
import random
import shutil
import struct

import pyarrow as pa
import pyarrow.parquet as pq

RELID = 4242
TABLE = "churn"
PG_EPOCH_US = 946_684_800_000_000
# (name, type oid, is key): id int8, seq int8, qty int4, payload text
COLUMNS = [("id", 20, True), ("seq", 20, False), ("qty", 23, False),
           ("payload", 25, False)]
FIRST_LSN = 1_000


def _cstr(s):
    return s.encode() + b"\x00"


def _tuple(values):
    out = [struct.pack(">h", len(values))]
    for v in values:
        if v is None:
            out.append(b"n")
        else:
            b = str(v).encode()
            out.append(b"t" + struct.pack(">i", len(b)) + b)
    return b"".join(out)


def _xlog(wal_start, payload):
    return (b"w" + struct.pack(">qqq", wal_start, wal_start + len(payload), 0)
            + payload)


def relation_msg():
    body = [b"R", struct.pack(">i", RELID), _cstr("public"), _cstr(TABLE), b"d",
            struct.pack(">h", len(COLUMNS))]
    for name, oid, key in COLUMNS:
        body.append(struct.pack(">B", 1 if key else 0) + _cstr(name) +
                    struct.pack(">ii", oid, -1))
    return b"".join(body)


def dml_msg(op):
    kind, key, seq, qty, payload = op
    if kind == "D":
        return b"D" + struct.pack(">i", RELID) + b"K" + _tuple([key, None, None, None])
    return (kind.encode() + struct.pack(">i", RELID) + b"N" +
            _tuple([key, seq, qty, payload]))


class Churn:
    """Seeded op stream plus the exact reference state it produces."""

    def __init__(self, seed):
        self.rng = random.Random(seed)
        self.live = []
        self.state = {}
        self.next_key = 1
        self.next_seq = 1

    def draw(self):
        draw = self.rng.randrange(100)
        qty = 1 + self.rng.randrange(100)
        seq = self.next_seq
        self.next_seq += 1
        if draw < 85 or not self.live:
            k = self.next_key
            self.next_key += 1
            payload = f"p{k}_{seq}"
            self.live.append(k)
            self.state[k] = (seq, qty, payload)
            return ("I", k, seq, qty, payload)
        if draw < 95:
            k = self.live[self.rng.randrange(len(self.live))]
            payload = f"u{k}_{seq}"
            self.state[k] = (seq, qty, payload)
            return ("U", k, seq, qty, payload)
        i = self.rng.randrange(len(self.live))
        k = self.live[i]
        self.live[i] = self.live[-1]
        self.live.pop()
        del self.state[k]
        return ("D", k, None, None, None)


def render_txns(seed, n_txns, txn_ops):
    """Yield (frames, ops, commit_wal_end) per transaction; returns the
    final Churn state through the generator's return value."""
    churn = Churn(seed)
    lsn = FIRST_LSN
    for t in range(n_txns):
        frames = []
        if t == 0:
            rel = relation_msg()
            frames.append(_xlog(lsn, rel))
            lsn += len(rel)
        ops = [dml_msg(churn.draw()) for _ in range(txn_ops)]
        ts = 1_700_000_000_000_000 + t * 1_000_000
        begin_len = 1 + 8 + 8 + 4
        commit_lsn = lsn + begin_len + sum(len(m) for m in ops)
        begin = b"B" + struct.pack(">qqi", commit_lsn, ts - PG_EPOCH_US, 1000 + t)
        frames.append(_xlog(lsn, begin))
        lsn += len(begin)
        for m in ops:
            frames.append(_xlog(lsn, m))
            lsn += len(m)
        assert lsn == commit_lsn
        commit = b"C" + struct.pack(">Bqqq", 0, commit_lsn, commit_lsn + 26,
                                    ts - PG_EPOCH_US)
        frames.append(_xlog(lsn, commit))
        lsn += len(commit)
        yield frames, txn_ops, lsn
    return churn


def _write(path, frame_list):
    pq.write_table(pa.table({"data": pa.array(frame_list, pa.binary())},
                            schema=pa.schema([("data", pa.binary())])), path)


def render(out_dir, seed, txn_ops, lead_txns, steady_txns, burst_txns,
           interval_ms):
    """Render the whole load into out_dir atomically (tmp + rename): an
    open-loop lead-in and steady phase, one file per transaction landing
    every `interval_ms`, then a catch-up burst of `burst_txns`
    transactions in one file, `burst.parquet`, so that it lands in one
    rename."""
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    open_loop = lead_txns + steady_txns
    lines, pending = [], []
    gen = render_txns(seed, open_loop + burst_txns, txn_ops)
    t = 0
    while True:
        try:
            txn_frames, ops, wal_end = next(gen)
        except StopIteration as stop:
            churn = stop.value
            break
        if t < open_loop:
            name = f"txn-{t:06d}.parquet"
            phase = "lead" if t < lead_txns else "steady"
            _write(os.path.join(tmp, name), txn_frames)
            lines.append(f"{ops}\t{wal_end}\t{name}\t{phase}\t{t * interval_ms:.3f}\n")
        else:
            pending += txn_frames
            lines.append(f"{ops}\t{wal_end}\tburst.parquet\tburst\t-1\n")
        t += 1
    if pending:
        _write(os.path.join(tmp, "burst.parquet"), pending)
    keys = sorted(churn.state)
    pq.write_table(pa.table({
        "id": pa.array(keys, pa.int64()),
        "seq": pa.array([churn.state[k][0] for k in keys], pa.int64()),
        "qty": pa.array([churn.state[k][1] for k in keys], pa.int32()),
        "payload": pa.array([churn.state[k][2] for k in keys], pa.string())}),
        os.path.join(tmp, "expected.parquet"))
    with open(os.path.join(tmp, "txns.tsv"), "w") as f:
        f.writelines(lines)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
