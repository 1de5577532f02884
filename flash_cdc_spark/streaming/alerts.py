"""Alert sinks (reference K4: SMTP mail on first/fatal listener error,
``app/services/email_notifications.py:38-119``, triggered from the
supervisor ``listener_manager.py:130-166``).

The SMTP client mirrors the reference's settings surface (host, port
465 implicit-SSL vs 587 STARTTLS, credentials, sender/recipients) with
an injectable transport so tests never open sockets. Wire
``EmailAlerter.alert`` (or any callable) into
:class:`~flash_cdc_spark.streaming.pipelines.PipelineManager`'s
``alert=`` hook.
"""

from __future__ import annotations

import logging
import smtplib
import ssl
from dataclasses import dataclass, field
from email.message import EmailMessage

LOG = logging.getLogger(__name__)

__all__ = ["SmtpSettings", "EmailAlerter"]


@dataclass(frozen=True)
class SmtpSettings:
    """Reference env-surface (email_notifications.py:16-36)."""

    host: str
    port: int = 587  # 465 → implicit SSL, else STARTTLS
    username: str | None = None
    password: str | None = None
    sender: str = "flash-cdc@localhost"
    recipients: tuple[str, ...] = ()
    timeout_s: float = 10.0


@dataclass
class EmailAlerter:
    """K4: compose + send the pipeline-error mail. ``transport`` is a
    callable ``(settings, EmailMessage) -> None``; the default opens a
    real SMTP connection (465 = SMTP_SSL, otherwise STARTTLS — exactly
    the reference's branch at email_notifications.py:72-96)."""

    settings: SmtpSettings
    transport: object = None
    sent: list = field(default_factory=list)

    def _default_transport(self, settings: SmtpSettings, msg: EmailMessage) -> None:
        if settings.port == 465:
            with smtplib.SMTP_SSL(
                settings.host, settings.port, timeout=settings.timeout_s,
                context=ssl.create_default_context(),
            ) as server:
                if settings.username:
                    server.login(settings.username, settings.password or "")
                server.send_message(msg)
        else:
            with smtplib.SMTP(settings.host, settings.port, timeout=settings.timeout_s) as server:
                server.starttls(context=ssl.create_default_context())
                if settings.username:
                    server.login(settings.username, settings.password or "")
                server.send_message(msg)

    def alert(self, pipeline_id: int, error: str) -> bool:
        """Send (or record) the alert; never raises into the supervisor
        (reference logs-and-continues on mail failure)."""
        msg = EmailMessage()
        msg["Subject"] = f"[flash-cdc] pipeline {pipeline_id} error"
        msg["From"] = self.settings.sender
        msg["To"] = ", ".join(self.settings.recipients)
        msg.set_content(f"Pipeline {pipeline_id} reported a fatal error:\n\n{error}\n")
        try:
            transport = self.transport or self._default_transport
            transport(self.settings, msg)
            self.sent.append((pipeline_id, error))
            return True
        except Exception as exc:
            LOG.error("alert mail for pipeline %s failed: %s", pipeline_id, exc)
            return False
