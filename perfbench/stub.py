"""Loopback SMTP-over-TLS stub, run as its own process.

It accepts implicit-TLS connections (what ``smtplib.SMTP_SSL`` opens),
``AUTH PLAIN``, and any sender and recipient. It counts connections,
messages and message bytes, and keeps each message's connection id,
envelope recipients, raw ``To`` header and decoded ``Subject`` for the
output check. On SIGTERM or SIGINT it writes everything as JSON to
``--log`` and exits.

The certificate is self-signed and made at set-up with ``cryptography``;
``smtplib.SMTP_SSL`` does not verify certificates by default.

    python3 perfbench/stub.py --dir <state dir>

writes ``cert.pem``/``key.pem`` there, listens on 127.0.0.1 on a free
port, and writes the port to ``<state dir>/port`` once it accepts.
"""

from __future__ import annotations

import argparse
import base64
import json
import os
import signal
import socketserver
import ssl
import threading


def make_cert(cert_path: str, key_path: str) -> None:
    """Write a self-signed P-256 certificate for 127.0.0.1/localhost."""
    import datetime
    import ipaddress

    from cryptography import x509
    from cryptography.hazmat.primitives import hashes, serialization
    from cryptography.hazmat.primitives.asymmetric import ec
    from cryptography.x509.oid import NameOID

    key = ec.generate_private_key(ec.SECP256R1())
    name = x509.Name([x509.NameAttribute(NameOID.COMMON_NAME, "localhost")])
    now = datetime.datetime.now(datetime.timezone.utc)
    cert = (
        x509.CertificateBuilder()
        .subject_name(name)
        .issuer_name(name)
        .public_key(key.public_key())
        .serial_number(x509.random_serial_number())
        .not_valid_before(now - datetime.timedelta(minutes=5))
        .not_valid_after(now + datetime.timedelta(days=1))
        .add_extension(
            x509.SubjectAlternativeName(
                [
                    x509.DNSName("localhost"),
                    x509.IPAddress(ipaddress.ip_address("127.0.0.1")),
                ]
            ),
            critical=False,
        )
        .sign(key, hashes.SHA256())
    )
    with open(key_path, "wb") as f:
        f.write(
            key.private_bytes(
                serialization.Encoding.PEM,
                serialization.PrivateFormat.PKCS8,
                serialization.NoEncryption(),
            )
        )
    with open(cert_path, "wb") as f:
        f.write(cert.public_bytes(serialization.Encoding.PEM))


class Ledger:
    """What the stub saw. Shared by the connection threads."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.connections = 0
        self.auth_ok = 0
        self.bytes = 0
        self.messages: list[dict] = []

    def new_connection(self) -> int:
        with self.lock:
            self.connections += 1
            return self.connections

    def add_message(self, conn_id: int, rcpts: list[str], data: bytes) -> None:
        head = data.split(b"\r\n\r\n", 1)[0]
        with self.lock:
            self.bytes += len(data)
            self.messages.append(
                {"conn": conn_id, "rcpt": rcpts, "head": head, "bytes": len(data)}
            )

    def to_json(self) -> dict:
        from email.parser import BytesHeaderParser
        from email.policy import compat32, default

        parser = BytesHeaderParser(policy=default)
        raw_parser = BytesHeaderParser(policy=compat32)
        with self.lock:
            msgs = list(self.messages)
            out = {
                "connections": self.connections,
                "auth_ok": self.auth_ok,
                "bytes": self.bytes,
            }
        records = []
        for m in msgs:
            h = parser.parsebytes(m["head"])
            raw = raw_parser.parsebytes(m["head"])
            records.append(
                {
                    "conn": m["conn"],
                    "rcpt": m["rcpt"],
                    "to": str(raw["To"]),
                    "subject": str(h["Subject"]),
                    "bytes": m["bytes"],
                }
            )
        out["messages"] = records
        return out


class _Handler(socketserver.StreamRequestHandler):
    server: "StubServer"
    # a client silent this long is dropped, so a stalled send fails
    # instead of hanging its job
    timeout = 30.0

    def _reply(self, line: str) -> None:
        self.wfile.write(line.encode("ascii") + b"\r\n")
        self.wfile.flush()

    def handle(self) -> None:
        try:
            self._session()
        except TimeoutError:
            return

    def _session(self) -> None:
        ledger = self.server.ledger
        self.request.do_handshake()
        conn_id = ledger.new_connection()
        self._reply("220 perfbench-stub ESMTP")
        rcpts: list[str] = []
        while True:
            line = self.rfile.readline()
            if not line:
                return
            cmd = line.decode("ascii", "replace").rstrip("\r\n")
            verb = cmd.split(" ", 1)[0].upper()
            if verb in ("EHLO", "HELO"):
                self.wfile.write(
                    b"250-perfbench-stub\r\n250-AUTH PLAIN\r\n250 8BITMIME\r\n"
                )
                self.wfile.flush()
            elif verb == "AUTH":
                parts = cmd.split()
                if len(parts) == 3 and parts[1].upper() == "PLAIN":
                    fields = base64.b64decode(parts[2]).split(b"\0")
                    if len(fields) == 3 and fields[1]:
                        with ledger.lock:
                            ledger.auth_ok += 1
                        self._reply("235 2.7.0 Authentication successful")
                        continue
                self._reply("535 5.7.8 Authentication credentials invalid")
            elif verb == "MAIL":
                rcpts = []
                self._reply("250 2.1.0 OK")
            elif verb == "RCPT":
                addr = cmd.split(":", 1)[1].split(">", 1)[0].strip(" <")
                rcpts.append(addr)
                self._reply("250 2.1.5 OK")
            elif verb == "DATA":
                self._reply("354 End data with <CR><LF>.<CR><LF>")
                chunks = []
                while True:
                    dl = self.rfile.readline()
                    if not dl or dl == b".\r\n":
                        break
                    chunks.append(dl[1:] if dl.startswith(b"..") else dl)
                ledger.add_message(conn_id, rcpts, b"".join(chunks))
                rcpts = []
                self._reply("250 2.0.0 OK queued")
            elif verb in ("RSET", "NOOP"):
                self._reply("250 2.0.0 OK")
            elif verb == "QUIT":
                self._reply("221 2.0.0 Bye")
                return
            else:
                self._reply("502 5.5.2 Command not recognized")


class StubServer(socketserver.ThreadingTCPServer):
    daemon_threads = True
    allow_reuse_address = True

    def __init__(self, cert: str, key: str) -> None:
        super().__init__(("127.0.0.1", 0), _Handler)
        self.ledger = Ledger()
        self.ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
        self.ctx.load_cert_chain(cert, key)

    def get_request(self):  # type: ignore[no-untyped-def]
        sock, addr = super().get_request()
        tls = self.ctx.wrap_socket(
            sock, server_side=True, do_handshake_on_connect=False
        )
        return tls, addr


def serve(state_dir: str, log_path: str) -> None:
    cert = os.path.join(state_dir, "cert.pem")
    key = os.path.join(state_dir, "key.pem")
    make_cert(cert, key)
    server = StubServer(cert, key)
    stop = threading.Event()
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, lambda *_: stop.set())
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    port_file = os.path.join(state_dir, "port")
    with open(port_file + ".tmp", "w") as f:
        f.write(str(server.server_address[1]))
    os.replace(port_file + ".tmp", port_file)
    try:
        stop.wait()
    finally:
        server.shutdown()
        thread.join(timeout=10)
        server.server_close()
        with open(log_path + ".tmp", "w", encoding="utf-8") as f:
            json.dump(server.ledger.to_json(), f)
        os.replace(log_path + ".tmp", log_path)


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--dir", required=True, help="state dir (cert, key, port)")
    ap.add_argument("--log", required=True, help="JSON ledger written at exit")
    a = ap.parse_args()
    serve(a.dir, a.log)
