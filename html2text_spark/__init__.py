from .zipguard import install as _install_zip_guard

_install_zip_guard()
