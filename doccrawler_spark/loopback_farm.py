"""Loopback HTTP server FARM for fetch benchmarks and probes.

A single GIL-bound ``ThreadingHTTPServer`` saturates near ~1k req/s —
below the politeness ceilings the fetch benchmarks measure — so the
benchmark servers are a farm of independent *processes*, each printing
its ephemeral port on stdout, with the 127.0.0.x host identities
sharded across them.  This module is the single home of that plumbing
(bench.py's ``http_fetch`` cell spawns through it) so a fix to the
server or the farm lifecycle reaches every measurement.

Server sources are plain strings run via ``python -c`` (the farm must
outlive no one JVM and needs no Spark), each following one contract:
print the bound port as the first stdout line, then serve forever.
"""

from __future__ import annotations

import subprocess
import sys

# static-page server: every GET sleeps ``hold_s`` (argv[1], simulated
# RTT) then returns one fixed ~3.7 KB HTML body — the fetch-stage
# benchmarks measure the drain seam, not page variety
STATIC_SERVER_SRC = r"""
import sys, time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

hold_s = float(sys.argv[1])
BODY = ("<html><head><title>p</title></head><body>" +
        "<p>lorem ipsum fetch bench</p>" * 120 + "</body></html>"
        ).encode()


class H(BaseHTTPRequestHandler):
    def do_GET(self):
        time.sleep(hold_s)
        self.send_response(200)
        self.send_header("Content-Length", str(len(BODY)))
        self.end_headers()
        self.wfile.write(BODY)

    def log_message(self, *a):
        pass


srv = ThreadingHTTPServer(("0.0.0.0", 0), H)
print(srv.server_address[1], flush=True)
srv.serve_forever()
"""


def spawn_farm(src: str, n_servers: int, args_of=None):
    """Start ``n_servers`` processes of server source ``src`` (each gets
    ``args_of(shard)`` as argv) and return ``(procs, ports)`` once every
    server has printed its port."""
    procs, ports = [], []
    for shard in range(n_servers):
        args = [str(a) for a in (args_of(shard) if args_of else [])]
        p = subprocess.Popen([sys.executable, "-c", src, *args],
                             stdout=subprocess.PIPE, text=True)
        ports.append(int(p.stdout.readline()))
        procs.append(p)
    return procs, ports


def host_of(i: int, hosts: int, ports: list[int]) -> str:
    """Authority for synthetic URL ``i``: host identity ``i % hosts``
    as a 127.0.0.x alias, served by the farm shard that identity maps
    to.  One identity → one netloc, so per-host politeness caps bind
    per identity."""
    h = i % hosts
    return f"127.0.0.{1 + h}:{ports[h % len(ports)]}"


def stop_farm(procs) -> None:
    for p in procs:
        p.terminate()
