"""HW3 stream generator: one thread, one connection.

Serves `n` seeded, Zipf-skewed integers as text lines on a localhost socket
at a fixed offered rate. Item i is scheduled at t0 + i / rate; lines go out
in small chunks as soon as their schedule is reached.

Protocol on stdout (one line each, flushed):
  PORT <port>            listening, before accept
  T0 <epoch_ms>          connection accepted; item 0's scheduled send time
  DONE <late_max_ms> <sent>
After DONE the exact tallies are written to --tally, one "item count" line
per distinct item, and the process waits for the consumer to close the
connection (or for LINGER_S seconds), then exits. A consumer that closes
early (an aborted rung of the rate ladder) ends the process quietly.

  python3 bench/hw3gen.py --rate 20000 --n 100000 --seed 1 --tally t.txt
"""
import argparse
import socket
import time

import numpy as np

# how long to wait for the consumer to close after DONE
LINGER_S = 30.0


def items(seed, n, universe=2000, skew=1.3):
    rng = np.random.default_rng(seed)
    ranks = rng.zipf(skew, size=n * 2)
    ranks = ranks[ranks <= universe][:n]
    while len(ranks) < n:
        more = rng.zipf(skew, size=n)
        ranks = np.concatenate([ranks, more[more <= universe]])[:n]
    # shuffle item identities so frequent items are not the small integers
    perm = rng.permutation(universe) + 1
    return perm[ranks - 1].astype(np.int64)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--n", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--tally", required=True)
    a = ap.parse_args()

    xs = items(a.seed, a.n)
    lines = [f"{x}\n".encode() for x in xs.tolist()]
    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    srv.settimeout(120.0)
    print(f"PORT {srv.getsockname()[1]}", flush=True)
    conn, _ = srv.accept()
    conn.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
    t0 = time.time() + 0.05
    print(f"T0 {t0 * 1000.0:.3f}", flush=True)
    sent, late_max = 0, 0.0
    while sent < a.n:
        now = time.time()
        due = min(a.n, int((now - t0) * a.rate) + 1)
        if due <= sent:
            time.sleep(min(0.002, (sent - (now - t0) * a.rate) / a.rate))
            continue
        # lateness of the oldest item in this chunk against its schedule
        late_max = max(late_max, now - (t0 + sent / a.rate))
        try:
            conn.sendall(b"".join(lines[sent:due]))
        except OSError:
            return
        sent = due
    print(f"DONE {late_max * 1000.0:.3f} {sent}", flush=True)
    vals, cnts = np.unique(xs, return_counts=True)
    with open(a.tally, "w") as f:
        f.writelines(f"{v} {c}\n" for v, c in zip(vals.tolist(), cnts.tolist()))
    conn.settimeout(LINGER_S)
    try:
        while conn.recv(4096):
            pass
    except (socket.timeout, OSError):
        pass
    conn.close()
    srv.close()


if __name__ == "__main__":
    main()
