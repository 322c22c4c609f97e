"""Load helper for the ``tail`` workload, run as its own process so that
neither the generator nor the receiver shares the sinker driver's
interpreter.

- Receiver: a loopback stand-in for ClickHouse's HTTP interface.  It
  accepts ``POST /?query=INSERT ... FORMAT Native`` and records each body
  with the wall-clock time it finished arriving.
- Generator: after ``go`` arrives on stdin, writes one JSON-lines file
  every ``gen.TAIL_TICK`` seconds into ``--dir`` for ``--seconds``
  seconds, at ``gen.TAIL_RATE`` rows per second.  Each message carries
  the time its file was due; files appear atomically (written under a
  hidden name, renamed).

Protocol on stdin/stdout: prints ``port <n>`` when listening; ``go``
starts the generator; ``finish`` decodes every received body with
``chproto.decode_block``, prints one JSON line of results and exits.
``GET /status`` reports rows generated and received so far.

Usage: python3 loadhelper.py --dir DIR --seed N --seconds S
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402

WARM_ID0 = 10**12  # warm-up rows: ids far from the measured ones


class State:
    def __init__(self):
        self.lock = threading.Lock()
        self.bodies: list[tuple[float, bytes]] = []
        self.received_rows = 0
        self.generated = 0
        self.done = False
        self.late: list[float] = []
        self.dues: list[float] = []  # due time of tick k


def _block_rows(body: bytes) -> int:
    """Row count from a Native block header (two leading varints)."""
    pos, vals = 0, []
    for _ in range(2):
        shift = n = 0
        while True:
            b = body[pos]
            pos += 1
            n |= (b & 0x7F) << shift
            shift += 7
            if b < 0x80:
                break
        vals.append(n)
    return vals[1]


def make_handler(state: State):
    class Handler(BaseHTTPRequestHandler):
        def do_POST(self):  # noqa: N802
            body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
            arrived = time.time()
            with state.lock:
                state.bodies.append((arrived, body))
                state.received_rows += _block_rows(body)
            self.send_response(200)
            self.send_header("Content-Length", "0")
            self.end_headers()

        def do_GET(self):  # noqa: N802
            with state.lock:
                payload = json.dumps({"generated": state.generated, "received": state.received_rows,
                                      "done": state.done}).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        def log_message(self, *_args):
            pass

    return Handler


def write_file(dirpath: str, name: str, lines: list[str]) -> None:
    tmp = os.path.join(dirpath, "." + name)
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    os.rename(tmp, os.path.join(dirpath, name))


def generate(state: State, args, rng: random.Random) -> None:
    per_tick = gen.TAIL_PER_TICK
    ticks = int(round(args.seconds / gen.TAIL_TICK))
    t0 = time.time() + gen.TAIL_TICK
    for k in range(ticks):
        due = t0 + k * gen.TAIL_TICK
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        write_file(args.dir, "tick-%06d.json" % k, gen.tail_lines(rng, k * per_tick, per_tick, due))
        with state.lock:
            state.late.append(time.time() - due)
            state.dues.append(due)
            state.generated += per_tick
    with state.lock:
        state.done = True


def results(state: State) -> dict:
    from clickhouse_sinker_spark.chproto import decode_block

    per_tick = gen.TAIL_PER_TICK
    seen: dict[int, int] = {}
    posts, bad_due, unexpected, body_bytes, rows = [], 0, 0, 0, 0
    for arrived, body in state.bodies:
        cols = {name: vals for name, _t, vals in decode_block(body)}
        ids, dues = cols["id"], cols["due"]
        if ids and ids[0] >= WARM_ID0:
            continue  # the warm-up file
        body_bytes += len(body)
        rows += len(ids)
        lat = []
        for i, d in zip(ids, dues):
            k = i // per_tick if i >= 0 else -1
            if not 0 <= k < len(state.dues):
                unexpected += 1
                continue
            seen[i] = seen.get(i, 0) + 1
            if d != state.dues[k]:
                bad_due += 1
            lat.append(arrived - d)
        posts.append({"arrived": arrived, "rows": len(lat), "lat_sum": sum(lat),
                      "lat_min": min(lat, default=0.0), "lat_max": max(lat, default=0.0),
                      "lat": sorted(lat)})
    late = sorted(state.late)
    return {
        "generated": state.generated,
        "distinct_landed": len(seen),
        "duplicates": sum(n - 1 for n in seen.values()),
        "unexpected": unexpected,
        "bad_due": bad_due,
        "posts": [{k: p[k] for k in ("arrived", "rows", "lat_sum", "lat_min", "lat_max")} for p in posts],
        "latencies": [x for p in posts for x in p["lat"]],
        "bytes": body_bytes,
        "rows": rows,
        "first_due": state.dues[0] if state.dues else 0.0,
        "late_p50_s": late[len(late) // 2] if late else 0.0,
        "late_max_s": late[-1] if late else 0.0,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args()
    os.makedirs(args.dir, exist_ok=True)
    rng = random.Random(args.seed)
    state = State()
    write_file(args.dir, "warm.json", gen.tail_lines(rng, WARM_ID0, gen.TAIL_WARM_ROWS, time.time()))
    server = ThreadingHTTPServer(("127.0.0.1", 0), make_handler(state))
    server.daemon_threads = True
    serving = threading.Thread(target=server.serve_forever, daemon=True)
    serving.start()
    print("port %d" % server.server_address[1], flush=True)
    generator = None
    try:
        for line in sys.stdin:
            cmd = line.strip()
            if cmd == "go" and generator is None:
                generator = threading.Thread(target=generate, args=(state, args, rng), daemon=True)
                generator.start()
            elif cmd == "finish":
                break
    finally:
        if generator is not None:
            generator.join(timeout=args.seconds + 5)
        server.shutdown()
        server.server_close()
    with state.lock:
        out = results(state)
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
