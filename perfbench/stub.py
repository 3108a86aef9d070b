"""Local HTTP JSON API for the api_fanout workload.

Serves `GET /items` (the item list) and `GET /item/<id>` (one item's
detail) from a JSON file of items, on 127.0.0.1 at an ephemeral port,
which it prints as its first stdout line.

It is built to measure the client, not itself:
  - one thread, one selector loop, TCP_NODELAY, and each response
    (headers and body together) handed to the kernel in one sendall,
    so no reply is split into a headers write and a body write that
    would stall on delayed ACKs;
  - it records its own CPU time while serving, so the caller can tell
    whether the stub, rather than the client, set the pace.

Control requests (not counted as served calls):
  GET /__mark   starts a new epoch (one per sequence run);
  GET /__stats  returns per-epoch counters as JSON.

Usage: python3 stub.py <items.json>
"""
import json
import selectors
import socket
import sys
import time


class Epoch:
    def __init__(self):
        self.list_calls = 0
        self.item_calls = 0
        self.bad_calls = 0
        self.item_ids = set()
        self.first = None  # (wall, cpu) at the first item call
        self.last = None  # (wall, cpu) at the end of the last item call
        self.gaps_ms = []

    def stats(self):
        window = self.last[0] - self.first[0] if self.first else 0.0
        busy = self.last[1] - self.first[1] if self.first else 0.0
        return {
            "list_calls": self.list_calls,
            "item_calls": self.item_calls,
            "bad_calls": self.bad_calls,
            "distinct_item_ids": len(self.item_ids),
            "fanout_window_s": window,
            "busy_s": busy,
            "gaps_ms": self.gaps_ms,
        }


def response(status, body):
    head = (f"HTTP/1.1 {status}\r\nContent-Type: application/json\r\n"
            f"Content-Length: {len(body)}\r\n\r\n").encode()
    return head + body


def main():
    with open(sys.argv[1]) as f:
        items = json.load(f)
    list_body = json.dumps([{k: it[k] for k in ("id", "name", "value")}
                            for it in items]).encode()
    # a one-element array: graft reads an array body as one row per
    # element, and would wrap a bare object under "response"
    details = {str(it["id"]): json.dumps(
        [{k: it[k] for k in ("id", "sku", "detail", "score", "stock")}]).encode()
        for it in items}
    epochs = [Epoch()]

    srv = socket.socket()
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(256)
    print(srv.getsockname()[1], flush=True)
    sel = selectors.DefaultSelector()
    sel.register(srv, selectors.EVENT_READ, "accept")
    # the parent holds our stdin open; EOF means it is gone, so stop
    sel.register(sys.stdin, selectors.EVENT_READ, "parent")

    def handle(conn, state, arrived):
        buf = state["buf"]
        while b"\r\n\r\n" in buf:
            head, buf = buf.split(b"\r\n\r\n", 1)
            lines = head.decode("latin-1").split("\r\n")
            path = lines[0].split(" ")[1]
            length = 0
            for h in lines[1:]:
                name, _, value = h.partition(":")
                if name.strip().lower() == "content-length":
                    length = int(value.strip())
            if len(buf) < length:  # body not complete yet: wait for it
                buf = head + b"\r\n\r\n" + buf
                break
            buf = buf[length:]
            ep = epochs[-1]
            if path == "/__mark":
                epochs.append(Epoch())
                out = response("200 OK", b"{}")
            elif path == "/__stats":
                out = response("200 OK", json.dumps([e.stats() for e in epochs]).encode())
            elif path == "/items":
                ep.list_calls += 1
                out = response("200 OK", list_body)
            elif path.startswith("/item/") and path[6:] in details:
                if ep.first is None:
                    ep.first = (arrived, time.process_time())
                if state["sent"] is not None and state["epoch"] is ep:
                    ep.gaps_ms.append((arrived - state["sent"]) * 1e3)
                ep.item_calls += 1
                ep.item_ids.add(path[6:])
                out = response("200 OK", details[path[6:]])
            else:
                ep.bad_calls += 1
                out = response("404 Not Found", b'{"error":"not found"}')
            conn.sendall(out)
            state["sent"], state["epoch"] = time.perf_counter(), ep
            if path.startswith("/item/") and path[6:] in details:
                ep.last = (state["sent"], time.process_time())
        state["buf"] = buf

    while True:
        for key, _ in sel.select():
            if key.data == "parent":
                if not sys.stdin.buffer.read1(4096):
                    return
                continue
            if key.data == "accept":
                conn, _ = srv.accept()
                conn.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
                sel.register(conn, selectors.EVENT_READ, {"buf": b"", "sent": None, "epoch": None})
                continue
            conn, state = key.fileobj, key.data
            arrived = time.perf_counter()
            try:
                data = conn.recv(65536)
            except OSError:
                data = b""
            if not data:
                sel.unregister(conn)
                conn.close()
                continue
            state["buf"] += data
            handle(conn, state, arrived)


if __name__ == "__main__":
    main()
