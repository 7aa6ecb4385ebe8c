"""TLS certificate parsing — DER bytes -> struct.

Models ``/root/reference/httpz_scanner/parsers.py:149-203`` over a
``cert_der binary`` column: the engine's fetch fabric returns the peer cert
as a column of the fetch result (the distributed analogue of the reference's
no-second-handshake connector capture, scanner.py:16-35 / SURVEY §4 O4), and
this parser runs over it in an Arrow-batched pandas UDF.
"""

from __future__ import annotations

TLS_SCHEMA = (
    "fingerprint string, subject string, issuer string, email string, "
    "alt_names array<string>, not_before string, not_after string"
)


def parse_cert_der(cert_der: bytes | None) -> dict | None:
    """Parse one DER certificate into the reference's tls dict shape
    (parsers.py:191-199): sha256 fingerprint hex, subject/issuer CN, email
    (subject attr, else first SAN rfc822Name), SAN values, validity ISO
    strings (UTC attrs preferred).  None on any failure (parsers.py:200-202).
    """
    if not cert_der:
        return None
    try:
        from cryptography import x509
        from cryptography.hazmat.primitives import hashes
        from cryptography.x509.oid import ExtensionOID, NameOID

        cert = x509.load_der_x509_certificate(bytes(cert_der))

        san_ext = None
        try:
            san_ext = cert.extensions.get_extension_for_oid(
                ExtensionOID.SUBJECT_ALTERNATIVE_NAME
            )
            alt_names = [name.value for name in san_ext.value]
        except x509.ExtensionNotFound:
            alt_names = []

        def _attr(name, oid):
            attrs = name.get_attributes_for_oid(oid)
            return attrs[0].value if attrs else None

        email = _attr(cert.subject, NameOID.EMAIL_ADDRESS)
        if not email and san_ext is not None:
            try:
                rfc822 = san_ext.value.get_values_for_type(x509.RFC822Name)
                if rfc822:
                    email = rfc822[0]
            except Exception:
                pass

        not_before = getattr(cert, "not_valid_before_utc", None) or cert.not_valid_before
        not_after = getattr(cert, "not_valid_after_utc", None) or cert.not_valid_after

        return {
            "fingerprint": cert.fingerprint(hashes.SHA256()).hex(),
            "subject": _attr(cert.subject, NameOID.COMMON_NAME),
            "issuer": _attr(cert.issuer, NameOID.COMMON_NAME),
            "email": email,
            "alt_names": [str(a) for a in alt_names],
            "not_before": not_before.isoformat(),
            "not_after": not_after.isoformat(),
        }
    except Exception:
        return None
